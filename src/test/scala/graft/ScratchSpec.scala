package graft

import graft.engine.{Catalog, Graft, SessionMemo}
import graft.queries.Scratch

/** Contract tests for the session-scoped scratch/memo layer the shared
  * per-corpus indexes (shingles, LSH candidates, simhash signatures and
  * pairs, winnowing fingerprints, embedding pairs) depend on.
  */
class ScratchSpec extends SparkTestBase {
  import spark.implicits._

  test("memoized builds once per key and replays from storage") {
    var builds = 0
    def build = { builds += 1; Seq(1L, 2L).toDF("v") }
    val k = s"scratch-spec:${System.nanoTime()}"
    val first = Scratch.memoized(spark, k, "memo_test", build)
    assert(first.count() === 2 && builds === 1)
    val second = Scratch.memoized(spark, k, "memo_test", build)
    assert(second.count() === 2)
    assert(builds === 1, "second call must replay, not rebuild")
  }

  test("memoized keys are independent (no cross-key reuse)") {
    var builds = 0
    def build(n: Int) = { builds += 1; (1 to n).map(_.toLong).toDF("v") }
    val base = System.nanoTime()
    assert(Scratch.memoized(spark, s"a:$base", "memo_a", build(1)).count() === 1)
    assert(Scratch.memoized(spark, s"b:$base", "memo_b", build(3)).count() === 3)
    assert(builds === 2)
  }

  test("memoized refuses keys naming mutable scratch/warehouse paths") {
    // The memo key encodes a PATH, not contents — memoizing over a dir
    // this session can rewrite would silently replay a stale index.
    // Every mutable dir this engine writes lives under the session
    // scratch root, so such keys must fail loudly at call time.
    val mutableDir = Scratch.fresh(spark, "mutable_ingest")
    val e = intercept[IllegalArgumentException] {
      Scratch.memoized(spark, s"shingles:$mutableDir", "memo_bad",
        Seq(1L).toDF("v"))
    }
    assert(e.getMessage.contains("immutable"))
    // a Catalog warehouse OUTSIDE the scratch tree (a user-supplied
    // path) is just as mutable — constructing the Catalog registers it
    val external = java.nio.file.Files
      .createTempDirectory("external_wh").toString
    new graft.engine.Catalog(spark, external)
    val e2 = intercept[IllegalArgumentException] {
      Scratch.memoized(spark, s"shingles:$external/docs", "memo_bad2",
        Seq(1L).toDF("v"))
    }
    assert(e2.getMessage.contains("immutable"))
    // boundary-aware: a SIBLING dir sharing the root as a name prefix
    // is not under it and must stay accepted
    val sibling = external + "-readonly/corpus"
    assert(Scratch.memoized(spark,
      s"ok:$sibling:${System.nanoTime()}", "memo_sib",
      Seq(1L).toDF("v")).count() === 1)
    // immutable inputs (the read-only testdata dirs) stay accepted
    assert(Scratch.memoized(spark, s"ok:$sfDir:${System.nanoTime()}",
      "memo_ok", Seq(1L).toDF("v")).count() === 1)
  }

  test("nested memoized builds are legal (outer forces inner)") {
    // The LSH candidate table forces the shingle table from inside its
    // own build — the exact shape that deadlocked/threw under the old
    // computeIfAbsent implementation depending on key hash bins.
    val base = System.nanoTime()
    val out = Scratch.memoized(spark, s"outer:$base", "memo_outer", {
      val inner = Scratch.memoized(spark, s"inner:$base", "memo_inner",
        Seq(1L, 2L, 3L).toDF("v"))
      inner.selectExpr("v * 10 AS v")
    })
    assert(out.collect().map(_.getLong(0)).sorted.toSeq === Seq(10L, 20L, 30L))
  }

  test("racing warehouse builds share the first Catalog and close the loser") {
    // both drives wait at the barrier, so both threads are inside the
    // build at once and exactly one putIfAbsent wins
    val d = s"spec-race:${System.nanoTime()}"
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val built = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    def build(): Catalog = Scratch.warehouse(spark, "spec_race", d) { cat =>
      built.add(cat.warehouse)
      barrier.await(60, java.util.concurrent.TimeUnit.SECONDS): Unit
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fs = Seq.fill(2)(pool.submit(() => build()))
      val Seq(a, b) = fs.map(_.get(120, java.util.concurrent.TimeUnit.SECONDS))
      assert(a eq b, "both callers must get the winning Catalog")
      assert(built.size === 2)
      val loser = built.toArray(Array.empty[String]).find(_ != a.warehouse).get
      // the loser was closed: its in-process claim is free again
      new Catalog(spark, loser).close()
      // the winner still holds its claim
      intercept[IllegalStateException](new Catalog(spark, a.warehouse))
    } finally pool.shutdown()
  }

  test("a warehouse build may force memoized frames under the single memo") {
    // the drive nests a Scratch.memoized build, which itself nests a
    // Graft.table frame — three levels of one map, no computeIfAbsent
    val base = System.nanoTime()
    val cat = Scratch.warehouse(spark, "spec_nest", s"spec-nest:$base") { c =>
      val nations = Scratch.memoized(spark, s"spec_nest:$sfDir:$base",
        "memo_nest", Graft.table(spark, sfDir, "nation")
          .select("n_nationkey"))
      c.save("nations", nations): Unit
    }
    assert(cat.table("nations").count() === 25)
  }

  test("memo kinds over the same dir do not collide") {
    val d = s"spec-kinds:${System.nanoTime()}"
    val a = Scratch.warehouse(spark, "spec_ka", d)(_ => ())
    val b = Scratch.warehouse(spark, "spec_kb", d)(_ => ())
    assert(a ne b)
    assert(a.warehouse !== b.warehouse)
    assert(Scratch.warehouse(spark, "spec_ka", d)(_ => fail("rebuilt")) eq a)
    assert(SessionMemo(spark, "spec_n1", d)(1L) === 1L)
    assert(SessionMemo(spark, "spec_n2", d)(2L) === 2L)
    assert(SessionMemo(spark, "spec_n1", d)(3L) === 1L)
  }

  test("evicting an application drops its entries and closes its Catalogs") {
    // the shared test SparkContext cannot be stopped mid-suite, so call
    // the eviction its application-end listener runs
    val d = s"spec-evict:${System.nanoTime()}"
    val cat = Scratch.warehouse(spark, "spec_evict", d)(_ => ())
    assert(new java.io.File(cat.warehouse, "_LOCK").exists())
    SessionMemo.evict(spark.sparkContext.applicationId)
    assert(!new java.io.File(cat.warehouse, "_LOCK").exists())
    new Catalog(spark, cat.warehouse).close()
    var builds = 0
    val again = Scratch.warehouse(spark, "spec_evict", d)(_ => builds += 1)
    assert(builds === 1 && (again ne cat))
  }
}
