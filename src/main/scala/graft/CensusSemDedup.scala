package graft

/** SCALE.md census drive for d11b's SemDeDup cost model. The registered
  * row pins (k=8, iters=2) for the oracle; the 100 TB claim is the
  * paper's dial — k grows with the corpus at a target cell population,
  * so the within-cell quadratic drop scan stays O(corpus x cell). This
  * main times `semanticDedupTrained` at an arbitrary (sfDir, k, iters)
  * so paired decade legs can measure BOTH axes:
  *
  *  - pinned k at a grown corpus (the registered row's literal shape):
  *    cell population grows with the corpus, the drop scan is
  *    quadratic BY PARAMETER, not by design;
  *  - k proportional to the corpus (the paper's dial): the drop scan
  *    stays bounded, and what remains is the flat Lloyd assignment's
  *    N x k compute term (crossJoin against broadcast centroids —
  *    map-side combined, so it never shuffles more than one row per
  *    vector, but the distance arithmetic itself is N x k x dim).
  *
  * Usage: runMain graft.CensusSemDedup [sfDir] [k] [iters] [reps]
  *
  * Reps run in ONE session and every rep recomputes from parquet (the
  * path memoizes nothing); the first rep carries the session's
  * codegen/first-exchange init (~20 s measured, dwarfing the sf0.1
  * algorithm cost), so cross-leg slope reading uses the WARM reps —
  * the same reason Bench pays warmup outside its timers.
  */
object CensusSemDedup {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).flatMap(_.toIntOption).getOrElse(8)
    val iters = args.lift(2).flatMap(_.toIntOption).getOrElse(2)
    val reps = args.lift(3).flatMap(_.toIntOption).getOrElse(3)
    val spark = graft.engine.Graft.session("graft-census-semdedup")
    spark.sparkContext.setLogLevel("ERROR")
    // Pay the corpus scan/footer outside the timer (the Bench warmup
    // discipline), so the leg times the algorithm, not the open cost.
    graft.engine.Graft.table(spark, sfDir, "embeddings").count(): Unit
    // The cell count comes out of the LAST timed rep (count() is the
    // timed action and returns it) — re-running the pipeline untimed
    // just to re-derive a number a timed rep already produced cost a
    // whole extra multi-minute leg at the sf10 decades (r19 advice).
    var cells = 0L
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      cells = graft.queries.DedupQueries
        .semanticDedupTrained(spark, sfDir, k, iters).count()
      (System.nanoTime() - t0) / 1e9
    }
    println(s"""{"census":"d11b_semdedup","sf":"$sfDir","k":$k,""" +
      s""""iters":$iters,"cells":$cells,""" +
      s""""secs":[${times.mkString(",")}]}""")
    spark.stop()
  }
}
