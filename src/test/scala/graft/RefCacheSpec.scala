package graft

import org.apache.spark.sql.functions._

import graft.streaming.RefCache

/** The admission streams' generation cache: build-once per generation,
  * O(batch) incremental extension, LSM consolidation past the segment
  * ceiling — the machinery that keeps closed-loop admission viable over
  * thousands of batches.
  */
class RefCacheSpec extends SparkSpec {

  import spark.implicits._

  private def frame(ids: Range) = ids.map(i => (i.toLong, s"v$i")).toDF("id", "tag")

  test("extend rolls a generation forward; consolidation bounds the union fan-in") {
    val dir = "memory:/refcache-spec" // key only — never touched on disk
    val orig = RefCache.MaxSegments
    RefCache.MaxSegments = 3
    try {
      val builds0 = RefCache.buildCount.get()
      val cons0 = RefCache.consolidateCount.get()
      val Seq(g0) = RefCache.get(spark, dir, "gen0")(Seq(frame(0 until 10)))
      assert(g0.count() === 10L)
      assert(RefCache.buildCount.get() === builds0 + 1)
      // ten successive admissions of 5 rows each — every one an extend,
      // never a rebuild, with consolidation collapsing the segment list
      // whenever it passes the ceiling
      var gen = "gen0"
      for (b <- 1 to 10) {
        val next = s"gen$b"
        assert(RefCache.extend(spark, dir, gen, next,
          Seq(frame(10 + (b - 1) * 5 until 10 + b * 5))), s"extend $b hit the cache")
        gen = next
      }
      val Seq(g10) = RefCache.get(spark, dir, gen)(sys.error("must hit the extended cache"))
      assert(RefCache.buildCount.get() === builds0 + 1, "zero rebuilds across ten extends")
      assert(g10.count() === 60L, "all ten deltas present exactly once")
      assert(g10.select("id").distinct().count() === 60L)
      // the union fan-in stayed bounded by the ceiling: a 10-extend
      // chain with MaxSegments=3 must not union 11 segments
      val unions = g10.queryExecution.logical.collect {
        case u: org.apache.spark.sql.catalyst.plans.logical.Union => u
      }
      assert(unions.map(_.children.size).sum <= RefCache.MaxSegments + 1,
        s"consolidation bounds the plan: ${unions.map(_.children.size)}")
      // the consolidation observable moved: segment lists 1→2→3→4(>3,
      // merge)→… across ten extends trip the ceiling MORE than once,
      // and every merge was counted (the `clean.loop` smoke
      // asserts on this counter at scale)
      assert(RefCache.consolidateCount.get() >= cons0 + 2,
        s"ten extends past a ceiling of 3 consolidate repeatedly: ${RefCache.consolidateCount.get() - cons0}")
      // an unknown predecessor refuses (next get derives fresh), and the
      // refused generation's cache entry is NOT destroyed
      assert(!RefCache.extend(spark, dir, "no-such-gen", "genX", Seq(frame(0 until 1))))
      val Seq(still) = RefCache.get(spark, dir, gen)(sys.error("cache must have survived"))
      assert(still.count() === 60L)
    } finally RefCache.MaxSegments = orig
  }
}
