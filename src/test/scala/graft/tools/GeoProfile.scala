package graft.tools
import graft.LocalSession
import graft.ops.Esql

/** Dev-loop profiler for the j260 pipeline — times cumulative stage
  * prefixes on a scaled events dir to locate the hot node. */
object GeoProfile {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/tmp/scale/x10")
    val s = LocalSession("WARN")
    val evalLL = "EVAL lat = (event_id * 7919 % 17000) / 100.0 - 85.0, lon = (event_id * 104729 % 36000) / 100.0 - 180.0"
    val stages = Seq(
      "baseline-ll" -> s"""FROM events | $evalLL | STATS n = COUNT(*), m = MIN(lat) BY event_type""",
      "concat-only" -> s"""FROM events | $evalLL | EVAL w = CONCAT("POINT(", TO_STRING(lon), " ", TO_STRING(lat), ")") | STATS n = COUNT(*), m = MIN(LENGTH(w)) BY event_type""",
      "geopoint" -> s"""FROM events | $evalLL | EVAL p = TO_GEOPOINT(CONCAT("POINT(", TO_STRING(lon), " ", TO_STRING(lat), ")")) | STATS n = COUNT(*), m = MIN(ST_X(p)) BY event_type""",
      "plus-dist" -> s"""FROM events | $evalLL | EVAL p = TO_GEOPOINT(CONCAT("POINT(", TO_STRING(lon), " ", TO_STRING(lat), ")")) | EVAL d = ROUND(ST_DISTANCE(p, TO_GEOPOINT("POINT(-74.0 40.7)")), 6) | STATS n = COUNT(*), m = MIN(d) BY event_type""",
      "plus-where" -> s"""FROM events | $evalLL | EVAL p = TO_GEOPOINT(CONCAT("POINT(", TO_STRING(lon), " ", TO_STRING(lat), ")")) | EVAL d = ROUND(ST_DISTANCE(p, TO_GEOPOINT("POINT(-74.0 40.7)")), 6) | WHERE d <= 2000000.0 | STATS n = COUNT(*), m = MIN(d) BY event_type""",
      "full-j260" -> Esql.j260Query)
    for ((name, q) <- stages) {
      Esql.compile(s, d, q).count() // warm
      val t0 = System.nanoTime()
      Esql.compile(s, d, q).count()
      println(f"[prof] $name%-12s ${(System.nanoTime() - t0) / 1e9}%6.2f s")
    }
    s.stop()
  }
}
