package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Profile query` in process: one JSON object per query, carrying
  * the construct/action split, the row count and the task totals.
  */
class ProfileSpec extends AnyFunSuite {
  lazy val spark = SparkTest.spark
  private val sf = "/root/testdata/sf0.001"

  test("query verb: one JSON object per query with timings, rows and task totals") {
    val lines = Profile.query(spark, sf, Seq("q01_agg"), control = 0.25)
    assert(lines.size == 1)
    val o = new ObjectMapper().readTree(lines.head)
    assert(o.isObject, lines.head)
    for (k <- Seq("construct_ms", "action_ms", "rows", "nproc",
                  "control_sec", "tasks"))
      assert(o.has(k) && o.get(k).isNumber, s"$k in ${lines.head}")
    assert(o.get("query").asText == "q01_agg")
    assert(o.get("rows").asLong == SparkEntry.queries("q01_agg")(spark, sf).count())
    assert(o.get("tasks").asLong > 0 && o.get("control_sec").asDouble == 0.25)
    assert(o.get("construct_ms").asDouble >= 0 && o.get("action_ms").asDouble > 0)
  }
}
