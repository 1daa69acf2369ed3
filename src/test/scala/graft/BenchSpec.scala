package graft

import org.scalatest.funsuite.AnyFunSuite

/** Bench's stdout contract: a caller that keeps only the last 2000
  * chars of stdout must still parse the last `"metric":"total"` line.
  */
class BenchSpec extends AnyFunSuite {

  test("the last total line survives a 2000-char tail under a comma-decimal locale") {
    val prev = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      val names = SparkEntry.queries.keys.toSeq.sorted
      val runs = names.zipWithIndex.map { case (n, i) =>
        n -> Seq(0.123456789 + i, 0.5 + i / 3.0)
      }
      val failed = Seq("b75_merge_into", "d32_stream_wap")
      val results = runs.filterNot(r => failed.contains(r._1))
        .map { case (n, ts) => n -> ts.min }
      val (full, compact) = Bench.emit(results, runs, failed,
        """"config":{"cpus":"4"}""", "/data/sf0.1")
      val stdout = Seq("[bench] noise", full, "[bench] more noise", compact)
        .map(_ + "\n").mkString
      val tail = stdout.takeRight(2000)
      val last = tail.split("\n").filter(_.contains("\"metric\":\"total\"")).last
      val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(last)
      assert(json.get("value").asDouble() == results.map(_._2).sum)
      assert(json.get("n_queries").asInt() == names.size - failed.size)
      assert(json.get("n_failed").asInt() == 2)
      assert(json.get("failed").elements().next().asText() == "b75_merge_into")
      // the full line is valid JSON too, and keeps failures out of the map
      val all = new com.fasterxml.jackson.databind.ObjectMapper().readTree(full)
      assert(all.get("queries").size() == names.size - failed.size)
      assert(!all.get("queries").has("b75_merge_into"))
      assert(all.get("queries_runs").size() == names.size)
    } finally java.util.Locale.setDefault(prev)
  }
}
