package perfbench

import java.util.SplittableRandom
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded stand-ins for the columns of the repository's `documents` and
  * `embeddings` test tables that the kernel calls of a traced run read. */
object TableGen {
  /** 31 words, the vocabulary of the test corpus. */
  val Words: IndexedSeq[String] = ("key agg row scan slow fast table value part hash a the " +
    "merge batch spark data window line sort join small big stream group query order " +
    "column filter customer vector").split(" ").toIndexedSeq

  private def frame(spark: SparkSession, rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  /** `doc_id` and `text`: random word sequences of 8 to 90 words. */
  def documents(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val r = new SplittableRandom(seed * 1000003L + 1)
    val rows = (0 until n).map { i =>
      Row(i.toLong, Seq.fill(8 + r.nextInt(83))(Words(r.nextInt(Words.size))).mkString(" "))
    }
    frame(spark, rows, StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType))))
  }

  /** `vec_id` and `embedding`: unit vectors of 64 dimensions around ten
    * centroids. */
  def embeddings(spark: SparkSession, seed: Long, n: Int): DataFrame = {
    val r = new SplittableRandom(seed * 1000003L + 2)
    val centroids = Array.fill(10, 64)(gauss(r))
    val rows = (0 until n).map { i =>
      val v = centroids(r.nextInt(10)).map(_ + 0.8 * gauss(r))
      val norm = math.sqrt(v.map(x => x * x).sum)
      Row(i.toLong, v.map(x => (x / norm).toFloat).toSeq)
    }
    frame(spark, rows, StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)))))
  }

  private def gauss(r: SplittableRandom): Double = {
    // Box-Muller
    val u = 1.0 - r.nextDouble()
    math.sqrt(-2 * math.log(u)) * math.cos(2 * math.Pi * r.nextDouble())
  }
}
