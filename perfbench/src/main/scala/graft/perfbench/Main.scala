package graft.perfbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.engine.{Catalog, Graft}
import graft.pipeline.{Invariants, RetailPipeline}
import graft.queries.Q

/** Closed-loop benchmark client: one process, one op at a time.
  *
  * A run is a warm-up round followed by a fixed number of measured rounds
  * (`--seconds` over the workload's nominal round length; five when
  * traced), then set-up-only rounds until the run has set up
  * [[MinSetups]] times. Every round starts a
  * fresh SparkSession, so per-session memos (`Scratch.memoized`, the
  * o-series warehouses) are rebuilt and set-up repeats; set-up is the
  * session start, the table opens, one warm query and the workload's
  * pre-built artifacts. Then one pass runs the workload's ops, in an order
  * drawn from `--seed`. Query ops are timed from the `Q.run` call to the
  * end of a `noop` write of the returned frame; a `count` round times the
  * legacy `.count()` instead. Rounds of kind `traced` register
  * [[Tracer]]'s listeners; the other kinds run without them.
  *
  * Writes one raw JSON record to `--out`; `perfbench/run.py` derives the
  * metrics and checks result row counts.
  */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, data: String, work: String, out: String)

  /** Set-ups per run at the least, counted over `plain` and `setup`
    * rounds. Rounds of kind `setup` repeat the set-up alone (no pass)
    * until a run has this many.
    */
  val MinSetups = 5

  final class InvariantViolation(msg: String) extends RuntimeException(msg)

  sealed abstract class Op(val name: String, val typ: String)
  final case class QueryOp(q: Q) extends Op(q.name, "query")
  final case class BuildOp(a: Artifact) extends Op(a.name, "build")
  case object RebuildOp extends Op("retail_rebuild", "rebuild")

  def parse(argv: Seq[String]): Args = {
    val m = argv.grouped(2).collect { case Seq(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      m("data"), m("work"), m("out"))
  }

  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("--oracle-out")) {
      // The registered DuckDB oracle SQL, for perfbench/expected.py.
      json.writeValue(new File(argv(1)), graft.SparkEntry.oracleSql)
      return
    }
    val a = parse(argv.toSeq)
    val wl = Workloads.byName(a.workload).getOrElse {
      System.err.println(s"unknown workload ${a.workload}")
      sys.exit(2)
    }
    json.writeValue(new File(a.out), new Client(a, wl).run())
  }

  final class Client(a: Args, wl: Workload) {
    private val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors.toString)
    private var nextId = 0
    private var shufflePartitions = ""
    private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala

    private def now(): Double = System.nanoTime() / 1e9
    private def gcMs(): Long = gcBeans.map(_.getCollectionTime.max(0L)).sum

    private def session(): SparkSession = Graft.session(s"perfbench-${wl.name}",
      defaultCpus = cpus,
      extraConf = Map("spark.sql.warehouse.dir" -> s"${a.work}/spark-warehouse"))

    private def scratchRoot(s: SparkSession): File =
      new File(System.getProperty("java.io.tmpdir"), s"graft_${s.sparkContext.applicationId}")
    private def warehouseRoot = new File(a.work, "warehouse")

    private def walk(f: File): Iterator[File] =
      if (f.isDirectory) Option(f.listFiles()).iterator.flatten.flatMap(walk)
      else if (f.isFile) Iterator(f) else Iterator.empty

    private def rm(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(rm)
      f.delete(): Unit
    }

    /** Heap in use once it has settled: the listener bus is drained (its
      * queued events hold plans), then full collections 200 ms apart
      * repeat until two readings agree within 1 MiB (at most ten), so
      * that broadcast blocks and shuffle state the context cleaner
      * releases after a collection are gone however busy the host is.
      */
    private def postGcHeapMb(spark: SparkSession): Double = {
      val sc = spark.sparkContext
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty", classOf[Long]).invoke(bus, Long.box(30000L))
      def used(): Double = {
        System.gc()
        ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
      }
      var prev = used()
      var cur = prev
      var tries = 0
      while ({ Thread.sleep(200); cur = used(); tries += 1
               math.abs(cur - prev) > 1.0 && tries < 10 }) prev = cur
      cur
    }

    private def errorOf(t: Throwable): Map[String, String] = {
      val root = Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq.last
      Map("class" -> t.getClass.getName,
        "message" -> String.valueOf(t.getMessage).linesIterator.nextOption().getOrElse("").take(400),
        "root" -> s"${root.getClass.getName}: ${String.valueOf(root.getMessage).take(200)}")
    }

    private def depsOf(op: Op): Seq[String] = op match {
      case QueryOp(q) => Workloads.artifacts.filter(_.consumers(q.name)).map(_.name)
      case _ => Nil
    }

    /** The seed's order of one round's pass: builds in their fixed order
      * first, then every independent op shuffled.
      */
    private def order(round: Int): Seq[Op] = {
      val rng = new scala.util.Random(a.seed * 1000003L + round)
      val qs = wl.queries.map(QueryOp(_): Op) ++ (if (wl.maintain) Seq(RebuildOp) else Nil)
      val builds = if (wl.maintain) wl.builds.map(BuildOp(_)) else Nil
      builds ++ rng.shuffle(qs)
    }

    /** Table opens (listing and footer read) and one composite warm
      * query: the session's first shuffle, broadcast, window and sort.
      */
    private def warmSession(spark: SparkSession): Unit = {
      import org.apache.spark.sql.functions._
      Graft.TableNames.foreach(n => Graft.table(spark, a.data, n): Unit)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("n_regionkey").orderBy("n_nationkey")
      Graft.table(spark, a.data, "nation")
        .join(broadcast(Graft.table(spark, a.data, "region")),
          col("n_regionkey") === col("r_regionkey"))
        .withColumn("rn", row_number().over(w))
        .groupBy("r_name").agg(sum("rn")).orderBy("r_name")
        .write.format("noop").mode("overwrite").save()
    }

    private def runOp(spark: SparkSession, tracer: Option[Tracer], op: Op,
                      kind: String, round: Int,
                      failed: mutable.Map[String, String]): mutable.Map[String, Any] = {
      nextId += 1
      val id = nextId
      val r = mutable.LinkedHashMap[String, Any]("id" -> id, "name" -> op.name, "type" -> op.typ)
      val blocked = depsOf(op).filter(failed.contains)
      if (blocked.nonEmpty) {
        r("error") = Map("class" -> "UpstreamArtifactFailed",
          "message" -> blocked.map(b => s"$b: ${failed(b)}").mkString("; "))
        return r
      }
      val scratch = scratchRoot(spark)
      val dirs0 = if (tracer.isDefined) Option(scratch.listFiles()).map(_.length).getOrElse(0) else 0
      val gc0 = gcMs()
      val wall0 = System.currentTimeMillis()
      val t0 = now()
      var tBuilt = t0
      var retail: Option[Catalog] = None
      def body(): Unit = op match {
        case QueryOp(q) =>
          val df = q.run(spark, a.data)
          tBuilt = now()
          if (kind == "count") r("rows") = df.count()
          else {
            val obs = Observation()
            df.observe(obs, count(lit(1)).as("rows"))
              .write.format("noop").mode("overwrite").save()
            r("rows") = Await.result(obs.future, 60.seconds).getLong(0)
          }
        case BuildOp(art) => art.build(spark, a.data)
        case RebuildOp =>
          val cat = RetailPipeline.build(spark, a.data,
            new File(warehouseRoot, s"retail-$round-$id").getPath)
          retail = Some(cat)
          val viol = Invariants.checkAll(cat).collect()
            .map(x => x.getString(0) -> x.getLong(1)).filter(_._2 != 0L)
          if (viol.nonEmpty) throw new InvariantViolation(
            viol.map { case (n, v) => s"$n=$v" }.mkString("invariant violations: ", ", ", ""))
      }
      try tracer.fold(body())(_.during(id)(body()))
      catch {
        case t: Throwable =>
          r("error") = errorOf(t)
          op match { case BuildOp(art) => failed(art.name) = t.getClass.getName; case _ => }
      }
      val t1 = now()
      r("start_ms") = wall0
      r("end_ms") = System.currentTimeMillis()
      r("secs") = t1 - t0
      if (op.typ == "query") {
        r("build_s") = tBuilt - t0
        r("result_s") = t1 - tBuilt
      }
      r("jvm_gc_ms") = (gcMs() - gc0).toDouble
      // The build report RetailPipeline.build writes: per-stage write times.
      retail.foreach(cat => r("stages_ms") = cat.table("pipeline_build_report").collect()
        .map(x => x.getAs[String]("stage") -> x.getAs[Long]("write_ms")).toMap)
      if (tracer.isDefined) {
        val written = (walk(scratch) ++ walk(warehouseRoot)).count(_.lastModified >= wall0)
        val dirs1 = Option(scratch.listFiles()).map(_.length).getOrElse(0)
        r("storage") = Map("storage.files_written" -> written.toDouble,
          "storage.scratch_dirs" -> (dirs1 - dirs0).toDouble)
      }
      r
    }

    private def round(n: Int, kind: String): Map[String, Any] = {
      val t0 = now()
      val spark = session()
      val tracer = if (kind == "traced") Some(new Tracer(spark)) else None
      tracer.foreach(_.attach())
      val failed = mutable.Map.empty[String, String]
      var setupError: Option[Map[String, String]] = None
      try warmSession(spark)
      catch { case t: Throwable => setupError = Some(errorOf(t)) }
      val builds = if (wl.maintain) Nil else wl.builds.map { art =>
        val b0 = now()
        val err = try { art.build(spark, a.data); None }
                  catch { case t: Throwable =>
                    failed(art.name) = t.getClass.getName; Some(errorOf(t)) }
        Map("name" -> art.name, "secs" -> (now() - b0), "error" -> err)
      }
      val setupS = now() - t0
      val ops = if (kind == "setup") Nil
                else order(n).map(op => runOp(spark, tracer, op, kind, n, failed))
      val heapMb = if (kind == "setup") None else Some(postGcHeapMb(spark))
      shufflePartitions = spark.conf.get("spark.sql.shuffle.partitions")
      val root = scratchRoot(spark)
      val stored = (walk(root) ++ walk(warehouseRoot)).map(_.length).sum
      spark.stop()
      tracer.foreach { tr =>
        ops.filter(_.contains("start_ms")).foreach { o =>
          val c = tr.countersOf(o("id").asInstanceOf[Int],
            o("start_ms").asInstanceOf[Long], o("end_ms").asInstanceOf[Long])
          o("counters") = c ++ o.getOrElse("storage", Map.empty[String, Double])
            .asInstanceOf[Map[String, Double]]
        }
      }
      rm(root)
      rm(warehouseRoot)
      Map("round" -> n, "kind" -> kind, "setup_s" -> setupS,
        "setup_error" -> setupError, "prebuilt" -> builds,
        "heap_mb" -> heapMb, "stored_bytes" -> stored, "ops" -> ops)
    }

    def run(): Map[String, Any] = {
      val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
      // Traced runs: one count round, then plain and traced rounds in ABBA
      // order, so a warm-up trend across rounds does not bias the overhead.
      val kinds =
        if (a.trace) Seq("count", "plain", "traced", "traced", "plain")
        else Seq.fill(wl.measuredRounds(a.seconds))("plain")
      val warm = round(0, "warmup")
      val bootS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
      val m0 = now()
      val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]
      kinds.foreach(k => rounds += round(rounds.size + 1, k))
      val measuredS = now() - m0
      def setups = rounds.count(r => r("kind") == "plain" || r("kind") == "setup")
      while (setups < MinSetups) rounds += round(rounds.size + 1, "setup")
      val rt = Runtime.getRuntime
      Map(
        "workload" -> wl.name, "seed" -> a.seed, "trace" -> a.trace,
        "boot_s" -> bootS, "measure_s" -> measuredS,
        "provenance" -> Map(
          "nproc" -> rt.availableProcessors, "spark_cpus" -> cpus,
          "driver_heap_mb" -> rt.maxMemory / 1048576,
          "jdk" -> s"${System.getProperty("java.vendor")} ${System.getProperty("java.version")}",
          "spark" -> org.apache.spark.SPARK_VERSION,
          "shuffle_partitions" -> shufflePartitions),
        "warmup" -> warm, "rounds" -> rounds.toSeq)
    }
  }
}
