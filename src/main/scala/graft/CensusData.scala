package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthesizes the 10×-sf0.1 census corpus (SCALE.md's fourth slope
  * point): the driver ships testdata only up to sf0.1, and three census
  * points where fixed per-job cost dominates cannot distinguish "data
  * term emerging" from superlinearity for the handful of ⚠-slope
  * queries. This main writes an sf1-equivalent directory whose tables
  * are `copies` (default 10) DISTRIBUTION-PRESERVING replicas of the
  * driver's sf0.1 tables:
  *
  *  - `lineitem`/`orders`: rows replicated with `l_orderkey`/
  *    `o_orderkey` offset by `copy × (max_orderkey+1)` — key
  *    cardinality scales with data, composite-join fan-out and the
  *    (date, country) group space stay fixed, exactly how a TPC-H fact
  *    table grows under a fixed date horizon. Dates, prices and dims
  *    are untouched, so the pipe rate table (per-date MAX) is
  *    bit-identical across scales.
  *  - `documents`: `doc_id` offset the same way; for copy > 0 every
  *    third word gets a copy-tagged suffix, so the planted intra-corpus
  *    duplicate structure is reproduced EXACTLY inside each copy (the
  *    substitution is a deterministic function of word index, identical
  *    for identical texts) while any 24-char window spanning a word
  *    boundary differs across copies — d12's duplicate mass scales ×10
  *    with the corpus instead of exploding ×(copies²) as it would under
  *    verbatim replication. `n_chars` is recomputed from the new text.
  *  - `embeddings`: `vec_id` offset; for copy > 0 the vector is mapped
  *    through a copy-specific signed coordinate permutation — an
  *    ORTHOGONAL transform, so every intra-copy cosine (and therefore
  *    the entire near-dup pair/cluster structure d9 scans) is preserved
  *    to fp noise, while cross-copy cosines concentrate near 0 at
  *    dim=64 (≪ the 0.35 near-dup threshold) — near-dup work scales
  *    ×10, not ×(copies²). Under the FIXED 16-bucket hyperplane LSH the
  *    per-bucket population grows ×10 past HotBucketCap, so this corpus
  *    also exercises the d5/d9 hot-bucket guard's linear path — the
  *    regime the guard exists for.
  *  - `events`: rows replicated with `event_id`/`user_id` offset by
  *    `copy × (max+1)` — user cardinality scales ×copies while each
  *    user keeps exactly the original per-user event sequence, so
  *    sessionization structure (30-min gaps, per-session ordering,
  *    session count per user) is reproduced per copy and total session
  *    work scales linearly. Timestamps shift by `copy` MILLISECONDS: a
  *    uniform per-copy shift preserves every within-copy gap and
  *    ordering bit-exactly (watermark/window semantics unchanged —
  *    cross-copy users never interact), keeps ts near-unique, and
  *    leaves the hour-window group space fixed (the lineitem
  *    fixed-date-horizon philosophy: events-per-window grows with
  *    data, window count does not — how a real event stream grows at
  *    fixed retention).
  *  - everything else (dims, region/nation/...): copied verbatim.
  *
  * Usage: runMain graft.CensusData [srcDir] [outDir] [copies] [tables]
  * `tables` (optional, comma-separated) restricts the build — a
  * sixth-decade spot for one family doesn't need 1000× lineitem.
  */
object CensusData {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/graft_census_sf1")
    val copies = args.lift(2).flatMap(_.toIntOption).getOrElse(10)
    val tables = args.lift(3).map(_.split(",").map(_.trim).toSet)
    val spark = graft.engine.Graft.session("graft-census")
    try build(spark, src, out, copies, tables) finally spark.stop()
  }

  def build(spark: SparkSession, src: String, out: String, copies: Int,
            only: Option[Set[String]] = None): Unit = {
    def read(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")
    def write(df: DataFrame, name: String): Unit =
      if (only.forall(_.contains(name)))
        df.write.mode("overwrite").parquet(s"$out/$name.parquet")
    def replicated(df: DataFrame): DataFrame =
      df.withColumn("cp", explode(sequence(lit(0), lit(copies - 1))))

    // fact keys: one shared offset base so lineitem and orders remap
    // consistently (the join key survives replication)
    val okBase = read("orders").agg(max(col("o_orderkey"))).head().getLong(0) + 1

    write(replicated(read("lineitem"))
      .withColumn("l_orderkey",
        col("l_orderkey") + col("cp").cast("long") * okBase)
      .drop("cp"), "lineitem")

    write(replicated(read("orders"))
      .withColumn("o_orderkey",
        col("o_orderkey") + col("cp").cast("long") * okBase)
      .drop("cp"), "orders")

    val docBase = read("documents").agg(max(col("doc_id"))).head().getLong(0) + 1
    write(replicated(read("documents"))
      .withColumn("doc_id", col("doc_id") + col("cp").cast("long") * docBase)
      .withColumn("text",
        when(col("cp") === 0, col("text")).otherwise(
          array_join(zip_with(
            split(col("text"), " "),
            sequence(lit(0), size(split(col("text"), " ")) - 1),
            (w, i) => when(i % 3 === 2,
              concat(w, lit("c"), col("cp").cast("string"))).otherwise(w)),
            " ")))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("cp"), "documents")

    val emb = read("embeddings")
    val dim = emb.select(size(col("embedding"))).head().getInt(0)
    val vecBase = emb.agg(max(col("vec_id"))).head().getLong(0) + 1
    // copy-specific signed permutations, seeded — broadcast-joined in
    val rngRows = (0 until copies).map { cp =>
      val r = new scala.util.Random(42L + cp)
      val perm =
        if (cp == 0) (0 until dim).toArray else r.shuffle((0 until dim).toVector).toArray
      val sgn =
        if (cp == 0) Array.fill(dim)(1.0f)
        else Array.fill(dim)(if (r.nextBoolean()) 1.0f else -1.0f)
      (cp, perm, sgn)
    }
    import spark.implicits._
    val maps = rngRows.toDF("cp", "perm", "sgn")
    write(replicated(emb)
      .join(broadcast(maps), Seq("cp"))
      .withColumn("embedding",
        zip_with(col("perm"), col("sgn"), (p, s) =>
          element_at(col("embedding"), p + 1) * s))
      .withColumn("vec_id", col("vec_id") + col("cp").cast("long") * vecBase)
      .select("vec_id", "embedding", "label"), "embeddings")

    val ev = read("events")
    val evBase = ev.agg(max(col("event_id"))).head().getLong(0) + 1
    val userBase = ev.agg(max(col("user_id"))).head().getLong(0) + 1
    write(replicated(ev)
      .withColumn("event_id",
        col("event_id") + col("cp").cast("long") * evBase)
      .withColumn("user_id",
        col("user_id") + col("cp").cast("long") * userBase)
      .withColumn("ts", expr("timestampadd(MILLISECOND, cp, ts)"))
      .drop("cp"), "events")

    for (t <- Seq("region", "nation", "customer", "supplier", "part"))
      write(read(t), t)
    println(s"[census] wrote ${copies}x replica of $src to $out")
  }
}
