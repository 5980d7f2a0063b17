package graft

import com.fasterxml.jackson.databind.ObjectMapper

/** Every scale-harness entry at its tiny size on the suite's session:
  * the entry's own asserts must hold, and its output must be one JSON
  * row per step or figure, each naming the entry, ending in a pass
  * verdict. */
class SmokeSpec extends SparkSpec {
  private val mapper = new ObjectMapper()

  private def smokeRoots(): Set[String] =
    new java.io.File(System.getProperty("java.io.tmpdir")).list()
      .filter(_.startsWith("graft-smoke")).toSet

  test("the table names the 17 entries once each") {
    val names = Smoke.entries.map(_.name)
    assert(names.toSet === Set("engine", "skew", "export", "span", "temporal",
      "text", "text.retrieval", "text.cascade", "text.hot", "text.sh64",
      "vector", "vector.ivfpq", "vector.cells2", "vector.respq", "clean", "clean.loop",
      "connect"))
    assert(names.distinct.size === names.size)
  }

  /** Entries whose asserts need more than this suite's time budget at
    * any size where they are meant to hold: run them by hand. */
  private val outOfBudget = Map(
    // the band-5 catch rate must sit within 3 % of theory: a binomial
    // bound that needs ~2k mid-dup pairs (100k docs); 40k docs already
    // cost ~170 s on a 4-core host
    "text" -> "jaccard_recall band-5 bound needs ~100k docs",
    // two segment-list consolidations need RefCache.MaxSegments + 4 = 36
    // streaming batches at ~5 s each
    "clean.loop" -> "36 streaming batches")

  for (e <- Smoke.entries) {
    val name = s"entry ${e.name} passes its own asserts at ${e.tiny.mkString(" ")}"
    if (outOfBudget.contains(e.name)) ignore(s"$name (${outOfBudget(e.name)})")(())
    else test(name) {
      val rows = scala.collection.mutable.ArrayBuffer[String]()
      val before = smokeRoots()
      Smoke.run(spark, e.name, e.tiny, { r => rows += r; println(r) })
      val parsed = rows.map(mapper.readTree)
      assert(parsed.forall(_.get("entry").asText == e.name))
      assert(parsed.exists(_.has("step")), "at least one timed step")
      assert(parsed.last.get("verdict").asText === "pass")
      assert(parsed.last.get("seconds").asDouble >= 0.0)
      assert(smokeRoots() === before, "the run's temp root is deleted")
    }
  }

  test("a failing entry still ends with a verdict row, throws, and cleans up") {
    val rows = scala.collection.mutable.ArrayBuffer[String]()
    val before = smokeRoots()
    val err = intercept[IllegalArgumentException](Smoke.run(spark, "engine", Seq(1000L, 100L, 7L), rows += _))
    assert(err.getMessage.contains("days must be >= 14"))
    val last = mapper.readTree(rows.last)
    assert(last.get("verdict").asText === "fail")
    assert(last.get("error").asText.contains("days must be >= 14"))
    assert(smokeRoots() === before)
    intercept[IllegalArgumentException](Smoke.run(spark, "no.such.entry", Nil, rows += _))
  }
}
