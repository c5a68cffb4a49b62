package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Stage-isolated census for the corpus-release FEATURE SCAN — times
  * each per-doc expression of `CorpusRelease.featured` cumulatively
  * (noop sink per guide §1.4), so the scan's seconds are attributed to
  * NFC, tokenize, the hashed-weight fold, or the md5 digest instead of
  * read as one fused number. Dev-only; the registered rows' shapes are
  * untouched.
  *
  * Usage: runMain graft.CensusReleaseParts [sfDir] [reps]
  */
object CensusReleaseParts {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val reps = args.lift(1).flatMap(_.toIntOption).getOrElse(2)
    val spark = graft.engine.Graft.session("graft-census-release-parts")
    spark.sparkContext.setLogLevel("ERROR")
    def noop(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def tick(name: String)(f: => Unit): Unit = {
      var i = 0
      while (i < reps) {
        val t0 = System.nanoTime()
        f
        println(f"[relparts] $name%-34s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
        i += 1
      }
    }
    val docs = graft.engine.Graft.table(spark, sfDir, "documents")
    docs.count(): Unit // warm the listing/footer memo

    def wsumOver(c: String) = expr(
      s"aggregate(transform($c, tok -> " +
        "pmod(graft_strhash(tok), 2001) - 1000L), " +
        "cast(0 as bigint), (acc, x) -> acc + x)")
    val wsum = wsumOver("w")

    tick("scan text only") {
      noop(docs.select(col("doc_id"), col("text")))
    }
    tick("+ graft_nfc") {
      noop(docs.select(col("doc_id"),
        expr("graft_nfc(text)").as("norm")))
    }
    tick("+ split + size") {
      noop(docs.select(col("doc_id"),
        expr("graft_nfc(text)").as("norm"))
        .withColumn("w", split(trim(col("norm")), "\\s+"))
        .select(col("doc_id"), size(col("w")).cast("long").as("ws_tokens")))
    }
    tick("+ wsum fold (interpreted HOF)") {
      noop(docs.select(col("doc_id"),
        expr("graft_nfc(text)").as("norm"))
        .withColumn("w", split(trim(col("norm")), "\\s+"))
        .select(col("doc_id"), size(col("w")).cast("long").as("ws_tokens"),
          wsum.as("wsum")))
    }
    tick("+ md5 digest") {
      noop(docs.select(col("doc_id"),
        expr("graft_nfc(text)").as("norm"))
        .withColumn("w", split(trim(col("norm")), "\\s+"))
        .select(col("doc_id"), size(col("w")).cast("long").as("ws_tokens"),
          wsum.as("wsum"), md5(col("norm")).as("fp")))
    }
    tick("raw-text wsum (t13 shape)") {
      noop(docs
        .withColumn("tk", split(trim(col("text")), "\\s+"))
        .select(col("doc_id"), wsumOver("tk").as("wsum")))
    }

    // --- the flagged-frame legs (mirrors CorpusRelease.flaggedFrame's
    // private pieces so the pre-materialize's seconds get attributed) ---
    import graft.queries.{DedupQueries, Scratch, Splits}
    import graft.pipeline.MinMergeStats
    val base = docs
      .select(col("doc_id"), col("lang"), col("source"),
        expr("graft_nfc(text)").as("norm"))
      .withColumn("w", split(trim(col("norm")), "\\s+"))
      .withColumn("ws_tokens", size(col("w")).cast("long"))
      .withColumn("wsum", wsum)
      .withColumn("split", Splits.splitCol)
      .withColumn("fp", md5(col("norm")))
      .select(col("doc_id"), col("lang"), col("source"),
        col("ws_tokens"), col("wsum"), col("split"), col("fp"))
      .withColumn("k1", col("wsum") >= 0L)
    tick("labels read (o12 maintained view)") {
      val cat = graft.queries.PipelineQueries.o12Warehouse(spark, sfDir)
      noop(MinMergeStats.view(cat, "cc_labels",
        Seq("v"), Seq("l")))
    }
    val grams = DedupQueries.evalGramIndex(spark, sfDir)
    tick("dirtyTrainIds joins (gram index)") {
      val candH = grams.filter(col("split") === "train")
        .select("h").distinct()
        .join(grams.filter(col("split") =!= "train")
          .select("h").distinct(), Seq("h"))
      val evG = grams.filter(col("split") =!= "train")
        .join(candH, Seq("h")).select(col("h"), col("gram")).distinct()
      noop(grams.filter(col("split") === "train")
        .join(candH, Seq("h"))
        .join(evG, Seq("h", "gram"))
        .select(col("doc_id")).distinct())
    }
    if (sys.env.contains("RELPARTS_EXPLAIN")) {
      val candH = grams.filter(col("split") === "train")
        .select("h").distinct()
        .join(grams.filter(col("split") =!= "train")
          .select("h").distinct(), Seq("h"))
      val evG = grams.filter(col("split") =!= "train")
        .join(candH, Seq("h")).select(col("h"), col("gram")).distinct()
      val dirty = grams.filter(col("split") === "train")
        .join(candH, Seq("h"))
        .join(evG, Seq("h", "gram"))
        .select(col("doc_id")).distinct()
      println("=== DIRTY PLAN ===")
      println(dirty.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
      println("=== END DIRTY PLAN ===")
    }
    tick("canon groupBy(fp) + join back") {
      val canon = base.filter(col("k1"))
        .groupBy(col("fp")).agg(min(col("doc_id")).as("keeper"))
      noop(base.join(canon, Seq("fp"), "left")
        .withColumn("k2", col("k1") && col("doc_id") === col("keeper")))
    }
    tick("pre full (materialized)") {
      val canon = base.filter(col("k1"))
        .groupBy(col("fp")).agg(min(col("doc_id")).as("keeper"))
      val cat = graft.queries.PipelineQueries.o12Warehouse(spark, sfDir)
      val labels = MinMergeStats.view(cat, "cc_labels",
        Seq("v"), Seq("l"))
        .select(col("v").as("doc_id"), col("l").as("cl"))
      val candH = grams.filter(col("split") === "train")
        .select("h").distinct()
        .join(grams.filter(col("split") =!= "train")
          .select("h").distinct(), Seq("h"))
      val evG = grams.filter(col("split") =!= "train")
        .join(candH, Seq("h")).select(col("h"), col("gram")).distinct()
      val dirty = grams.filter(col("split") === "train")
        .join(candH, Seq("h"))
        .join(evG, Seq("h", "gram"))
        .select(col("doc_id")).distinct()
        .withColumn("is_dirty", lit(true))
      Scratch.materialize(spark, "relparts_pre", base
        .join(canon, Seq("fp"), "left")
        .withColumn("k2", col("k1") && col("doc_id") === col("keeper"))
        .join(labels, Seq("doc_id"), "left")
        .withColumn("k3",
          col("k2") && (col("cl").isNull || col("doc_id") === col("cl")))
        .withColumn("k4", col("k3") && col("split") === lit("train"))
        .join(dirty, Seq("doc_id"), "left")
        .withColumn("k5", col("k4") && col("is_dirty").isNull)
        .select(col("doc_id"), col("lang"), col("source"),
          col("ws_tokens"),
          col("k1"), col("k2"), col("k3"), col("k4"), col("k5"))): Unit
    }
    spark.stop()
  }
}
