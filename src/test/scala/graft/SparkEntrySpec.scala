package graft

import org.scalatest.funsuite.AnyFunSuite

class SparkEntrySpec extends AnyFunSuite {

  test("onlyQueries splits SPARK_GRAFT_ONLY into known and unknown names") {
    assert(SparkEntry.onlyQueries(None).isEmpty, "unset selects nothing explicitly")
    val (known, unknown) = SparkEntry.onlyQueries(
      Some(" qann_bq, qann_bq_typo ,,qann_sq,qann_bq")).get
    // trimmed, blanks and repeats dropped, asked order kept
    assert(known == Seq("qann_bq", "qann_sq"))
    assert(unknown == Seq("qann_bq_typo"),
      "a mistyped name beside valid ones must be reported, not dropped")
    assert(SparkEntry.onlyQueries(Some("nope")).get == (Nil, Seq("nope")))
    assert(SparkEntry.onlyQueries(Some(" , ")).get == (Nil, Nil))
  }
}
