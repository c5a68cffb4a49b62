package graft

import org.apache.spark.sql.functions._

/** Stage-isolated census drive for the d11b SemDeDup pipeline — times
  * each piece of `semanticDedupTrained` separately over MATERIALIZED
  * inputs, so a decade leg attributes its seconds to the assignment,
  * the means update, or the drop scan instead of reading one fused
  * number (guide §1: the empirical loop needs per-stage attribution).
  * Dev-only; the registered row's fused shape is untouched.
  *
  * Usage: runMain graft.CensusSemDedupParts [sfDir] [k] [alsoFlat]
  */
object CensusSemDedupParts {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/tmp/graft_census_sf10")
    val k = args.lift(1).flatMap(_.toIntOption).getOrElse(800)
    val alsoFlat = args.lift(2).contains("flat")
    val spark = graft.engine.Graft.session("graft-census-semdedup-parts")
    spark.sparkContext.setLogLevel("ERROR")
    graft.engine.Graft.table(spark, sfDir, "embeddings").count(): Unit
    def tick[T](name: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[parts] $name%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
      r
    }
    import graft.queries.SimilarityQueries.Lloyd
    import graft.queries.{DedupQueries, Scratch}
    val e = Lloyd.corpus(spark, sfDir)
    val c0 = tick("init (materialized)") {
      Scratch.materialize(spark, "parts_c0", Lloyd.init(e, k))
    }
    tick("assignFor(init).count") {
      Lloyd.assignFor(e, c0, k).count()
    }
    if (alsoFlat) {
      tick("flat assign(init).count") {
        Lloyd.assign(e, c0).count()
      }
      // count() lets the optimizer prune the min-struct aggregate
      // (guide §1.4) — the materialized variants below are the honest
      // full-evaluation costs.
      tick("flat assign FULL (materialized)") {
        Scratch.materialize(spark, "parts_flat_full", Lloyd.assign(e, c0))
      }
      tick("SLIM flat argmin+rejoin (materialized)") {
        val am = e.crossJoin(broadcast(c0))
          .withColumn("d2", expr("graft_dsq(v, c)"))
          .groupBy(col("vec_id"))
          .agg(min(struct(col("d2"), col("cid"))).as("m"))
          .select(col("vec_id"), col("m.cid").as("cid"), col("m.d2").as("d2"))
        Scratch.materialize(spark, "parts_flat_slim",
          am.join(e, Seq("vec_id"))
            .select(col("vec_id"), col("cid"), col("v"), col("d2")))
      }
      tick("in-row assign FULL (materialized)") {
        Scratch.materialize(spark, "parts_inrow_full",
          Lloyd.assignInRow(e, c0))
      }
    }
    val m1 = tick("means(assignFor) (materialized)") {
      Scratch.materialize(spark, "parts_m1",
        Lloyd.means(Lloyd.assignFor(e, c0, k)))
    }
    val asg = tick("final assign+norm (materialized)") {
      Scratch.materialize(spark, "parts_asg",
        Lloyd.assignFor(e, m1, k)
          .withColumn("norm", sqrt(expr("graft_ddot(v, v)")))
          .select(col("vec_id"), col("cid"), col("v"), col("norm")))
    }
    tick("semDedupStats(asg).count") {
      DedupQueries.semDedupStats(asg).count()
    }
    // warm repeat of the scan (the first run pays the session's
    // first-exchange init when this main is run standalone)
    tick("semDedupStats(asg).count warm") {
      DedupQueries.semDedupStats(asg).count()
    }
    spark.stop()
  }
}
