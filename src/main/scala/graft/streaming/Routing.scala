package graft.streaming

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Declarative routing config (SURVEY.md §2.A12): the reference routes
  * records to delivery streams via a `kvconfig.yml` routing table loaded
  * at startup (/root/reference/main.go:42, `SetGlobalRouting`), where
  * each named route lists per-field value matchers
  * (/root/reference/kvconfig.yml). Graft's pipeline routes by a Column
  * expression — strictly more expressive — and this object is the
  * config-file surface on top: a parsed route table compiles to that
  * Column, so an operator migrating from the reference can bring their
  * routing file instead of writing expressions.
  */
object Routing {

  /** One route: records whose fields match ALL matchers (value ∈ list
    * per field) go to stream `name`. `output` carries the route's alert
    * sink metadata when the config declares an `output:` block. */
  final case class Route(name: String, matchers: Map[String, Seq[String]],
                         output: Option[Output] = None)

  /** A route's `output:` block — the reference's alert-sink declaration
    * (/root/reference/kvconfig.yml:5-10): the routed record becomes a
    * metric point on `series` with `statType` semantics, reading the
    * numeric value from the record's `valueField`. */
  final case class Output(sinkType: String = "", series: String = "",
                          dimensions: Seq[String] = Nil, statType: String = "",
                          valueField: String = "")

  /** Compile an ordered route table to a routing Column for
    * [[Forwarder.start]]: first matching route wins, `default`
    * otherwise. Pure codegen'd predicates — routing adds no shuffle. */
  def column(routes: Seq[Route], default: String = "main"): Column =
    compile(routes, default, _ => true)

  /** Schema-aware compile: like [[column]], but matchers over fields
    * the frame LACKS (or that aren't string-typed, e.g. the summary
    * record's `level` map) can never match — the route falls through
    * to the next, mirroring the reference's unmatched→default
    * semantics instead of failing analysis at stream start. */
  def columnFor(df: org.apache.spark.sql.DataFrame, routes: Seq[Route],
                default: String = "main"): Column =
    compile(routes, default, df.schema.fields.collect {
      case f if f.dataType == org.apache.spark.sql.types.StringType => f.name
    }.toSet)

  /** The one route fold: a matcher over a field outside `present` is
    * `false`. */
  private def compile(routes: Seq[Route], default: String,
                      present: String => Boolean): Column =
    routes.foldRight(lit(default)) { (route, fallthrough) =>
      val cond = route.matchers.toSeq
        .map { case (field, vals) =>
          if (present(field)) col(field).isin(vals: _*) else lit(false)
        }
        .reduceOption(_ && _)
        .getOrElse(lit(true))
      when(cond, lit(route.name)).otherwise(fallthrough)
    }

  /** Parse the `routes:` section of a kvconfig.yml-shaped document
    * (two-space indentation, `field: ["v1", "v2"]` matcher lists — the
    * exact shape of /root/reference/kvconfig.yml). This is a minimal
    * purpose-built reader, not a YAML engine: `routes.*.matchers` and
    * `routes.*.output` (type/series/dimensions/stat_type/value_field)
    * are interpreted. Routes keep file order (first match wins). */
  def parseKvConfig(text: String): Seq[Route] = {
    // strip a trailing comment only at a '#' OUTSIDE double quotes — a
    // '#' inside a quoted matcher value is data, not a comment
    def stripComment(s: String): String = {
      var inQuote = false
      var i = 0
      while (i < s.length) {
        s.charAt(i) match {
          case '"' => inQuote = !inQuote
          case '#' if !inQuote => return s.substring(0, i)
          case _ => ()
        }
        i += 1
      }
      s
    }
    val routes = scala.collection.mutable.LinkedHashMap.empty[String, Map[String, Seq[String]]]
    val outputs = scala.collection.mutable.HashMap.empty[String, Output]
    var inRoutes = false
    var route: String = null
    var section: String = null // "matchers" | "output" | null
    def quoted(rhs: String): Seq[String] =
      "\"([^\"]*)\"".r.findAllMatchIn(rhs).map(_.group(1)).toSeq
    for (raw <- text.linesIterator; line = stripComment(raw) if line.trim.nonEmpty) {
      val indent = line.takeWhile(_ == ' ').length
      val body = line.trim
      if (indent == 0) inRoutes = body == "routes:"
      else if (inRoutes && indent == 2 && body.endsWith(":")) {
        route = body.dropRight(1)
        routes(route) = Map.empty
        section = null
      } else if (inRoutes && route != null && indent == 4) {
        section = body match {
          case "matchers:" => "matchers"
          case "output:"   => outputs(route) = Output(); "output"
          case _           => null
        }
      } else if (inRoutes && route != null && section == "matchers" && indent == 6) {
        body.split(":", 2) match {
          case Array(field, rhs) =>
            val vals = quoted(rhs)
            if (vals.nonEmpty) routes(route) = routes(route) + (field.trim -> vals)
          case _ => ()
        }
      } else if (inRoutes && route != null && section == "output" && indent == 6) {
        body.split(":", 2) match {
          case Array(key, rhs) =>
            // scalar values may be quoted or bare; dimensions is a
            // (possibly empty) inline list of quoted strings
            val scalar = quoted(rhs).headOption.getOrElse(rhs.trim)
            val o = outputs(route)
            outputs(route) = key.trim match {
              case "type"        => o.copy(sinkType = scalar)
              case "series"      => o.copy(series = scalar)
              case "dimensions"  => o.copy(dimensions = quoted(rhs))
              case "stat_type"   => o.copy(statType = scalar)
              case "value_field" => o.copy(valueField = scalar)
              case _             => o
            }
          case _ => ()
        }
      }
    }
    routes.map { case (n, m) => Route(n, m, outputs.get(n)) }.toSeq
  }
}
