package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.{SparkEntry, Tables}
import graft.ops.{Recon, TablePair}
import graft.sources.Sources
import graft.streaming.StreamingOps
import org.apache.spark.perfbenchbridge.Bus
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.types._

/** The benchmark's driver program: one fresh JVM per run, one client,
  * closed loop. Prints `READY` once the SparkSession is built, then runs
  * the workload's pass repeatedly — the first pass cold — until
  * `--seconds` have passed since READY (at least `--min-warm` warm passes),
  * and writes every timed call, the listener counters (traced passes) and
  * the run environment to `<out>/result.json`. Output checks and metrics
  * are computed from that record and the written outputs by run.py.
  *
  * `--setup-only` stops right after READY: run.py times several such
  * start-ups to report the median set-up time. */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val cores = args("cores").toInt
    val work = Paths.get(args("work")).toAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    println("READY")
    Console.out.flush()
    if (args.get("setup-only").contains("1")) { spark.stop(); return }

    val out = Paths.get(args("out")).toAbsolutePath
    Files.createDirectories(out)
    val workload: Workload = args("workload") match {
      case "recon_cdc" => new Sequence(Seq(new ReconWorkload(spark, args("recon"), out),
        new CdcWorkload(spark, args("cdc"), out)))
      case "battery" => new BatteryWorkload(spark, args, out)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val trace = args.get("trace").contains("1")
    val seconds = args("seconds").toDouble
    val minWarm = args("min-warm").toInt
    val ops = new Ops(spark)
    val collector = new Collector
    val t0 = System.nanoTime()
    val passes = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
    def elapsed = (System.nanoTime() - t0) / 1e9
    // per pass, for the run record: JVM time in GC and in the JIT compiler,
    // and the share of the box's CPU time the hypervisor stole
    def gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    def jitMs = ManagementFactory.getCompilationMXBean.getTotalCompilationTime
    var p = 0
    while (p == 0 || p <= minWarm || elapsed < seconds) {
      // traced runs alternate traced and untraced warm passes, so one run
      // also yields the tracing overhead; the cold pass is traced
      val tracedPass = trace && (p == 0 || p % 2 == 0)
      if (tracedPass) spark.sparkContext.addSparkListener(collector)
      ops.pass = p
      ops.traced = tracedPass
      val startMs = System.currentTimeMillis()
      val (gc0, jit0, cpu0) = (gcMs, jitMs, Workload.cpuTimes())
      val s = System.nanoTime()
      workload.pass(ops, p)
      val wall = (System.nanoTime() - s) / 1e9
      val (gc, jit, cpu) = ((gcMs - gc0) / 1e3, (jitMs - jit0) / 1e3, Workload.cpuTimes())
      val steal = (cpu._2 - cpu0._2).toDouble / math.max(1L, cpu._1 - cpu0._1)
      if (tracedPass) {
        Bus.drain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(collector)
      }
      passes += Map("pass" -> p, "traced" -> tracedPass, "wall_s" -> wall,
        "start_s" -> (s - t0) / 1e9, "start_ms" -> startMs, "gc_s" -> gc, "jit_s" -> jit,
        "steal_frac" -> steal)
      // outside the timed pass: output checks, clean-up, and a GC so one
      // pass's garbage is not billed to the next
      workload.afterPass(ops, p)
      System.gc()
      p += 1
    }
    val measuredS = elapsed
    workload.finish(ops)
    val opsJson = ops.records.map { r =>
      Map("pass" -> r.pass, "id" -> r.id, "name" -> r.name, "layer" -> r.layer,
        "start_s" -> (r.startNs - t0) / 1e9, "wall_s" -> r.wallS,
        "construct_s" -> r.constructS, "plan_s" -> r.planS, "exec_s" -> r.execS,
        "ok" -> r.ok, "error" -> r.error, "shape" -> r.shape, "extra" -> r.extra,
        "engine" -> collector.counters(r.id).map(_.toMap(r.startMs, r.endMs)))
    }
    val env = Map(
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "java_vm" -> System.getProperty("java.vm.name"),
      "max_heap_bytes" -> Runtime.getRuntime.maxMemory,
      "spark_conf" -> spark.conf.getAll)
    val rss = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .collectFirst { case l if l.startsWith("VmHWM:") =>
        l.split("\\s+")(1).toLong / 1024.0 }
    val record = Map("passes" -> passes, "ops" -> opsJson, "env" -> env,
      "measured_s" -> measuredS, "peak_rss_mb" -> rss,
      "workload" -> workload.info)
    Files.writeString(out.resolve("result.json"), Json(record))
    spark.stop()
  }
}

trait Workload {
  def pass(ops: Ops, p: Int): Unit
  def afterPass(ops: Ops, p: Int): Unit = ()
  def finish(ops: Ops): Unit = ()
  def info: Map[String, Any] = Map.empty
}

/** Workloads run one after the other within each pass. */
final class Sequence(parts: Seq[Workload]) extends Workload {
  def pass(ops: Ops, p: Int): Unit = parts.foreach(_.pass(ops, p))
  override def afterPass(ops: Ops, p: Int): Unit = parts.foreach(_.afterPass(ops, p))
  override def finish(ops: Ops): Unit = parts.foreach(_.finish(ops))
  override def info: Map[String, Any] = parts.map(_.info).reduce(_ ++ _)
}

object Workload {
  def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
      finally s.close()
    }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete) finally s.close()
    }

  /** The box's total and stolen CPU jiffies so far (/proc/stat). */
  def cpuTimes(): (Long, Long) = {
    val v = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").tail.map(_.toLong)
    (v.sum, if (v.length > 7) v(7) else 0L)
  }

  def pinned(table: String): StructType = table match {
    case "region" => Tables.region
    case "nation" => Tables.nation
    case "supplier" => Tables.supplier
    case "part" => Tables.part
    case "customer" => Tables.customer
    case "orders" => Tables.orders
    case "lineitem" => Tables.lineitem
    case "events" => Tables.eventsMicros
  }
}

/** Cold two-sided reconciliation of a source corpus (read through the
  * pinned `Tables` readers) against a separately stored target copy (read
  * through `Sources.read` with the target's declared schema): schema
  * pre-flight per pair, `reconcileAll`, drill-down on the failing pairs,
  * tolerance compares on the money columns, report and detail written.
  * The pairs, keys, money columns, tolerance and the target's declared
  * type drift come from the generator's `manifest.json` in `dir`. */
final class ReconWorkload(spark: SparkSession, dir: String, out: Path) extends Workload {
  private val srcDir = s"$dir/src"
  private val tgtDir = s"$dir/tgt"
  private val manifest = Json.read(Paths.get(dir, "manifest.json"))
  private val specs = manifest.get("pairs").fields().asScala.map(e => e.getKey -> e.getValue).toSeq
  private val specOf = specs.toMap
  private val tol = manifest.get("tolerance").asDouble
  private val drift = manifest.get("drift")

  private def tgtSchema(t: String): StructType =
    StructType(Workload.pinned(t).fields.map(f =>
      if (t == drift.get("table").asText && f.name == drift.get("column").asText)
        f.copy(dataType = DataType.fromDDL(drift.get("tgt_type").asText))
      else f))

  // a table without a single-column key gets the same derived key column
  // on both sides
  private def keyed(t: String, df: DataFrame): DataFrame = {
    val spec = specOf(t)
    Option(spec.get("derive")).filterNot(_.isNull)
      .fold(df)(d => df.withColumn(spec.get("key").asText, expr(d.asText)))
  }

  private def money(t: String): Option[String] =
    Option(specOf(t).get("money")).map(_.asText)

  def pass(ops: Ops, p: Int): Unit = {
    val sides = specs.flatMap { case (t, spec) =>
      val key = spec.get("key").asText
      val src = ops.call(s"tables.read:$t", "Schemas") {
        if (t == "events") Tables.events(spark, srcDir) else Tables.read(spark, srcDir, t)
      }
      val tgt = ops.call(s"sources.read:$t", "sources") {
        Sources.read(spark, s"$tgtDir/$t.parquet", tgtSchema(t))
      }
      for (s <- src; g <- tgt) yield (t, key, keyed(t, s), keyed(t, g))
    }
    // schema pre-flight: drifted columns are reported and left out of the
    // pair's hashed columns
    val pairs = sides.flatMap { case (t, key, s, g) =>
      ops.frame(s"recon.schema_drift:$t", "ops.Recon")(Recon.schemaDrift(s, g))(_.collect())
        .map { rows =>
          val bad = rows.filter(_.getString(3) != "ok")
          ops.annotate("not_ok" -> bad.map(r => s"${r.getString(0)}:${r.getString(3)}").toSeq)
          val skip = bad.map(_.getString(0)).toSet + key
          TablePair(t, s, g, key, s.columns.toSeq.filterNot(skip))
        }
    }
    val report = ops.frame("recon.reconcile_all", "ops.Recon")(Recon.reconcileAll(pairs))(_.collect())
    val failing = report.toSeq.flatten.filter(r => !r.getBoolean(4)).map(_.getString(0)).distinct
    val detail = pairs.filter(tp => failing.contains(tp.name)).flatMap { tp =>
      ops.frame(s"recon.hash_diff_detail:${tp.name}", "ops.Recon")(
        Recon.hashDiffDetail(tp.src, tp.tgt, tp.key, tp.cols))(_.collect())
        .map(_.map(r => Row(tp.name, r.get(0).toString, r.getString(1))).toSeq)
    }.flatten
    val tolerance = pairs.flatMap(tp => money(tp.name).map(tp -> _)).flatMap { case (tp, c) =>
      ops.frame(s"recon.tolerance_diff:${tp.name}", "ops.Recon")(
        Recon.toleranceDiff(tp.src, tp.tgt, tp.key, c, tol))(_.collect())
        .map(rows => Row(tp.name, c, rows.head.getLong(0)))
    }
    val dir = out.resolve(s"pass_$p")
    def write(name: String, df: => DataFrame): Unit = {
      ops.call(s"sources.write:$name", "sources")(Sources.write(df, dir.resolve(name).toString))
      ops.annotate("bytes" -> Workload.dirBytes(dir.resolve(name)))
    }
    report.foreach(rows => write("report",
      spark.createDataFrame(rows.toSeq.asJava, rows.head.schema)))
    write("detail", spark.createDataFrame(detail.asJava, StructType(Seq(
      StructField("table", StringType), StructField("k", StringType),
      StructField("status", StringType)))))
    write("tolerance", spark.createDataFrame(tolerance.asJava, StructType(Seq(
      StructField("table", StringType), StructField("column", StringType),
      StructField("mismatches", LongType)))))
  }
}

/** CDC apply with writes: a versioned snapshot seeded from the base orders
  * table, a series of change batches merged through
  * `StreamingOps.applyChangesBatch`, one replayed batch id, and a
  * `hashDiffTables` of the final snapshot against the expected state.
  * `dir` holds the generator's base/, batch_<i>/, expected/ and cdc.json. */
final class CdcWorkload(spark: SparkSession, dir: String, out: Path) extends Workload {
  private val spec = Json.read(Paths.get(dir, "cdc.json"))
  private val batches = spec.get("batches").asInt
  private val expectedRows = spec.get("expected_rows").asLong
  private val cols = Tables.orders.fieldNames.toSeq
  private val feedSchema = StructType(Tables.orders.fields ++ Seq(
    StructField("op", StringType), StructField("seq", LongType)))
  private val checks = scala.collection.mutable.ArrayBuffer.empty[Map[String, Any]]
  private def snap(p: Int) = out.resolve(s"snapshot_$p")
  private def pointer(p: Int): String = {
    val f = snap(p).resolve("_latest")
    if (Files.exists(f)) Files.readString(f).trim else ""
  }
  private def expected = Tables.orders(spark, s"$dir/expected")

  def pass(ops: Ops, p: Int): Unit = {
    val snapshot = snap(p).toString
    ops.call("tables.read:orders", "Schemas")(Tables.orders(spark, s"$dir/base"))
      .foreach(b => ops.call("streaming.init_snapshot", "streaming")(StreamingOps.initSnapshot(b, snapshot)))
    val feeds = (0 until batches).map { b =>
      ops.call(s"sources.read:batch_$b", "sources")(
        Sources.read(spark, s"$dir/batch_$b/changes.parquet", feedSchema))
    }
    feeds.zipWithIndex.foreach { case (feed, b) =>
      feed.foreach { f =>
        ops.writing(s"streaming.apply_batch:batch_$b", "streaming")(
          StreamingOps.applyChangesBatch(f, snapshot, "o_orderkey", "seq", "op", b.toLong))
      }
    }
    // a re-delivered batch id must leave the snapshot untouched
    feeds.last.foreach { f =>
      val before = pointer(p)
      ops.call("streaming.replay_batch", "streaming")(
        StreamingOps.applyChangesBatch(f, snapshot, "o_orderkey", "seq", "op", (batches - 1).toLong))
      ops.annotate("pointer_before" -> before, "pointer_after" -> pointer(p))
    }
    ops.frame("recon.hash_diff_tables", "ops.Recon")(
      Recon.hashDiffTables(StreamingOps.readSnapshot(spark, snapshot), expected,
        "o_orderkey", cols.filter(_ != "o_orderkey")))(
      _.collect().head.getLong(0))
      .foreach(n => ops.annotate("mismatches" -> n))
  }

  /** Untimed: the snapshot's row count and its drill-down against the
    * expected state (keys missing or extra on either side included, which
    * the inner-join `hashDiffTables` does not see). */
  override def afterPass(ops: Ops, p: Int): Unit = {
    val dir = snap(p)
    def attempt[T](f: => T): Option[T] = scala.util.Try(f).toOption
    val rows = attempt(StreamingOps.readSnapshot(spark, dir.toString).count())
    val detail = attempt(Recon.hashDiffDetail(StreamingOps.readSnapshot(spark, dir.toString),
      expected, "o_orderkey", cols.filter(_ != "o_orderkey")).count())
    val written = (1 to batches).map(v => Workload.dirBytes(dir.resolve(s"v=$v"))).sum
    checks += Map("pass" -> p, "snapshot_rows" -> rows, "expected_rows" -> expectedRows,
      "detail_rows" -> detail, "pointer" -> pointer(p), "bytes_written" -> written)
    Workload.deleteTree(dir)
  }
  override def info: Map[String, Any] = Map("checks" -> checks)
}

/** The registry's query battery: each query is constructed through
  * `SparkEntry.queries`, planned and materialized (`toRdd.count()`, the
  * timed path of the library's own Bench). Pass 1 is the warm-up, which no
  * metric reads (run.py, WARM): it writes every query's output instead, for
  * the oracle compare. */
final class BatteryWorkload(spark: SparkSession, args: Map[String, String], out: Path)
    extends Workload {
  private val dir = args("corpus")
  private val queries = args("queries").split(",").toSeq
  private val seed = args("seed").toLong
  private val dumps = out.resolve("dumps")

  def pass(ops: Ops, p: Int): Unit = {
    val registry = SparkEntry.queries
    // each warm pass runs its own seeded order, so order effects average
    // out within a run
    val order = if (p == 0) queries else new scala.util.Random(seed * 1000 + p).shuffle(queries)
    order.foreach { q =>
      ops.frame(s"battery:$q", "SparkEntry")(registry(q)(spark, dir)) { df =>
        if (p == 1) df.write.mode("overwrite").parquet(dumps.resolve(q).toString)
        else df.queryExecution.toRdd.count()
        df
      }.foreach(df => ops.annotate("tables" -> BatteryWorkload.scanned(df)))
    }
  }

  override def finish(ops: Ops): Unit = {
    val oracle = SparkEntry.oracleSql
    Files.createDirectories(dumps)
    Files.writeString(dumps.resolve("oracle_sql.json"),
      Json(queries.flatMap(q => oracle.get(q).map(q -> _)).toMap))
  }
}

object BatteryWorkload {
  /** Corpus tables the query's optimized plan scans, once per scan. */
  def scanned(df: DataFrame): Seq[String] =
    df.queryExecution.optimizedPlan.collectWithSubqueries {
      case l: LogicalRelation => l.relation
    }.collect { case h: HadoopFsRelation =>
      h.location.rootPaths.map(_.getName.stripSuffix(".parquet"))
    }.flatten
}
