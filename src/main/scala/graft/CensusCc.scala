package graft

import org.apache.spark.sql.functions._

/** SCALE.md census drive for o12's incremental-CC claim: the cost that
  * matters at 100 TB is the MARGINAL fold (one arriving batch into an
  * existing label table) versus the from-scratch label rebuild the
  * corpus paid before o12 existed — the o12 registry row itself drives
  * the full 4-fold demonstration (deliberately, for the oracle), so
  * its in-suite number is rebuild-shaped and cannot show the
  * incremental win. This main measures, on one sf dir in one window
  * (paired, the SCALE.md discipline):
  *
  *  - `rebuild_s`: full edge generation + CC over the whole corpus
  *    (the ccLabelsSimhash shape, un-memoized);
  *  - `fold_s`: with the table maintained over the first two thirds,
  *    the arriving last third's edge probe + contracted-CC fold;
  *  - `redeliver_s`: refolding the same batch (idempotent no-op path —
  *    edge probe + all-self-loop contraction, no CC rounds).
  *
  * Usage: runMain graft.CensusCc [sfDir]
  */
object CensusCc {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.engine.Graft.session("graft-census-cc")
    spark.sparkContext.setLogLevel("ERROR")
    import graft.queries.{DedupQueries, Scratch}
    val sigs = DedupQueries.simhashSigs(spark, sfDir)
    sigs.count(): Unit // pay the signature index build outside timers
    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    val none = sigs.limit(0)
    val rebuild = timed {
      DedupQueries.connectedComponents(spark,
        DedupQueries.simhashEdgesVs(sigs, none)).count(): Unit
    }
    val cat = new graft.engine.Catalog(spark,
      Scratch.fresh(spark, "census_cc_wh"))
    def b(i: Int) = sigs.filter(col("doc_id") % 3 === i)
    graft.pipeline.IncrementalCc.fold(cat, "cc",
      DedupQueries.simhashEdgesVs(b(0), none)): Unit
    graft.pipeline.IncrementalCc.fold(cat, "cc",
      DedupQueries.simhashEdgesVs(b(1), b(0))): Unit
    val seen = b(0).unionByName(b(1))
    val fold = timed {
      graft.pipeline.IncrementalCc.fold(cat, "cc",
        DedupQueries.simhashEdgesVs(b(2), seen)).count(): Unit
    }
    val redeliver = timed {
      graft.pipeline.IncrementalCc.fold(cat, "cc",
        DedupQueries.simhashEdgesVs(b(2), seen)).count(): Unit
    }
    println(s"""{"census":"o12_cc","sf":"$sfDir","rebuild_s":$rebuild,""" +
      s""""fold_s":$fold,"redeliver_s":$redeliver}""")
    spark.stop()
  }
}
