package graftbench

import java.io.PrintWriter
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{SparkEntry, T}
import graft.sources.{GraftCatalog, GraftTable}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.DecimalType

/** Times the calls one operation makes into graft. Only the code inside
  * `build` and `action` counts; everything else the runner does around an
  * operation (result digests, directory listings) is outside the span.
  * While a timed part runs, the `graftbench.op` local property names the
  * operation so the tracer can attribute its Spark jobs. */
final class Timer(spark: SparkSession, val id: String) {
  var buildNs = 0L
  var actionNs = 0L
  var startMs = 0L
  var endMs = 0L

  private def timed[A](f: => A)(add: Long => Unit): A = {
    if (startMs == 0L) startMs = System.currentTimeMillis()
    spark.sparkContext.setLocalProperty(Tracer.OpProp, id)
    val t0 = System.nanoTime()
    try f finally {
      add(System.nanoTime() - t0)
      endMs = System.currentTimeMillis()
      spark.sparkContext.setLocalProperty(Tracer.OpProp, null)
    }
  }

  def build[A](f: => A): A = timed(f)(buildNs += _)
  def action[A](f: => A): A = timed(f)(actionNs += _)
  def wallS: Double = (buildNs + actionNs) / 1e9
}

/** One workload: how to set it up and how to run one of its operations.
  * `setup` (warm the inputs) is repeated with each fresh session;
  * `prepare` (build base tables) runs once, in the last one. `exec`
  * returns the operation's untimed facts (digest, version, files), which
  * go into its record. */
trait Workload {
  def setup(spark: SparkSession): Unit
  def prepare(spark: SparkSession): Unit = ()
  def exec(spark: SparkSession, op: Map[String, Any], t: Timer): Map[String, Any]
  def afterPass(spark: SparkSession): Map[String, Any] = Map.empty
  def finish(spark: SparkSession): Map[String, Any] = Map.empty
}

/** Read-only `SparkEntry` keys. The action is a full fetch, so every
  * output column of the whole plan is computed; the rows are digested
  * after the span closes. */
final class QueryMix(data: String) extends Workload {
  def setup(spark: SparkSession): Unit =
    T.tables.foreach { name =>
      if (name == "events") T.events(spark, data).count()
      else T.t(spark, data, name).count()
    }

  def exec(spark: SparkSession, op: Map[String, Any], t: Timer): Map[String, Any] = {
    val key = op("key").toString
    spark.catalog.clearCache()
    val df = t.build(SparkEntry.queries(key)(spark, data))
    val rows = t.action(df.collect())
    Map("kind" -> "query", "rows" -> rows.length,
      "digest" -> Canon.digest(df.schema, rows))
  }
}

object Main {
  def num(v: Any): Long = v.asInstanceOf[Number].longValue

  def session(cores: Int, work: String): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graftbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
  }

  private def vmHwmMb(): Double = {
    val line = Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toLong / 1024.0
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum

  private def heapPeakMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .map(_.getPeakUsage.getUsed).sum / 1048576.0

  /** Sum of the lengths of the union of [start, end] intervals. */
  def unionMs(spans: Seq[(Long, Long)]): Long = {
    var total = 0L; var curS = Long.MinValue; var curE = Long.MinValue
    spans.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { total += math.max(0L, curE - curS); curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    total + math.max(0L, curE - curS)
  }

  def main(args: Array[String]): Unit = {
    val bootS = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val plan = Json.read(args(0))
    val out = new PrintWriter(plan("out").toString, "UTF-8")
    try {
      plan("mode") match {
        case "oracle" =>
          val keys = plan("keys").asInstanceOf[Vector[String]]
          out.println(Json.str(keys.flatMap(k => SparkEntry.oracleSql.get(k).map(k -> _)).toMap))
        case "countprune" => countPrune(plan, out)
        case _ => run(plan, bootS, out)
      }
    } finally out.close()
  }

  /** Columns each file scan of a physical plan reads. Scans inside
    * subquery expressions are not seen: before preparation those are
    * still logical plans. */
  private def scanColumns(p: org.apache.spark.sql.execution.SparkPlan): Seq[String] =
    p.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.getName).mkString("+") + ":" +
          s.requiredSchema.fieldNames.mkString(",")
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.getClass.getSimpleName + ":" + b.output.map(_.name).mkString(",")
    }.sorted

  /** For every key: the columns its full result's plan scans against those
    * the plan of `.count()` on the same frame scans. */
  private def countPrune(plan: Map[String, Any], out: PrintWriter): Unit = {
    val data = plan("data").toString
    val spark = session(num(plan("cores")).toInt, plan("work").toString)
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (key, fn) =>
      val rec = try {
        val df = fn(spark, data)
        Map("full" -> scanColumns(df.queryExecution.sparkPlan),
          "count" -> scanColumns(df.groupBy().count().queryExecution.sparkPlan))
      } catch { case e: Throwable => Map("error" -> String.valueOf(e.getMessage).take(200)) }
      out.println(Json.str(rec + ("key" -> key)))
      out.flush()
    }
    spark.stop()
  }

  private def run(plan: Map[String, Any], bootS: Double, out: PrintWriter): Unit = {
    val workload = plan("workload").toString
    val data = plan("data").toString
    val work = plan("work").toString
    val cores = num(plan("cores")).toInt
    val seconds = num(plan("seconds"))
    val minPasses = num(plan("min_passes")).toInt
    val trace = plan("trace") == true
    val reps = num(plan("setup_reps")).toInt
    val passes = plan("passes").asInstanceOf[Vector[Vector[Map[String, Any]]]]
    val warmup = plan("warmup").asInstanceOf[Vector[Map[String, Any]]]
    val records = mutable.ArrayBuffer[Map[String, Any]]()

    val wl: Workload =
      if (workload == "table_cycle") new TableCycle(data, work) else new QueryMix(data)

    // Set-up: the session and input warm-up are repeated `reps` times and
    // count with their median; base tables and the warm-up pass run once
    // (only the first pass compiles).
    var spark: SparkSession = null
    val repS = (0 until reps).map { i =>
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = session(cores, work)
      spark.sparkContext.setLogLevel("ERROR")
      wl.setup(spark)
      (System.nanoTime() - t0) / 1e9
    }
    val t0 = System.nanoTime()
    wl.prepare(spark)
    val prepS = (System.nanoTime() - t0) / 1e9
    val warmTimer = new Timer(spark, "warmup")
    warmup.zipWithIndex.foreach { case (op, i) =>
      val rec = try wl.exec(spark, op, warmTimer) catch {
        case e: Throwable => Map("error" -> String.valueOf(e.getMessage).take(300))
      }
      records += op ++ rec ++ Map("type" -> "warmup", "i" -> i)
    }
    val warmS = (System.nanoTime() - t0) / 1e9 - prepS
    val setupS = bootS + repS.sorted.apply(reps / 2) + prepS + warmS
    records += Map("type" -> "setup", "setup_s" -> setupS, "boot_s" -> bootS,
      "rep_s" -> repS, "prepare_s" -> prepS, "warmup_s" -> warmS)

    val tracer = new Tracer
    val timers = mutable.ArrayBuffer[(Timer, Boolean)]()
    val runT0 = System.nanoTime()
    var p = 0
    while (p < passes.size &&
        (p < minPasses || (System.nanoTime() - runT0) / 1e9 < seconds)) {
      val traced = trace && p % 2 == 0
      if (traced) {
        spark.sparkContext.addSparkListener(tracer)
        spark.listenerManager.register(tracer)
      }
      val passT0 = System.nanoTime()
      passes(p).zipWithIndex.foreach { case (op, i) =>
        val t = new Timer(spark, s"$p:$i")
        val rec = try wl.exec(spark, op, t) ++ Map("ok" -> true) catch {
          case e: Throwable =>
            Map("ok" -> false, "error" ->
              (e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage)).take(300))
        }
        timers += ((t, traced))
        records += op ++ rec ++ Map("type" -> "op", "id" -> t.id, "pass" -> p,
          "i" -> i, "traced" -> traced, "wall_s" -> t.wallS,
          "build_s" -> t.buildNs / 1e9, "action_s" -> t.actionNs / 1e9,
          "start_ms" -> t.startMs, "end_ms" -> t.endMs)
      }
      val passS = (System.nanoTime() - passT0) / 1e9
      if (traced) {
        org.apache.spark.graftbench.BusDrain(spark.sparkContext)
        spark.sparkContext.removeSparkListener(tracer)
        spark.listenerManager.unregister(tracer)
      }
      records += wl.afterPass(spark) ++ Map("type" -> "pass", "pass" -> p,
        "wall_s" -> passS, "traced" -> traced)
      p += 1
    }
    val measuredS = (System.nanoTime() - runT0) / 1e9
    records += wl.finish(spark) ++ Map("type" -> "final",
      "measured_s" -> measuredS, "passes" -> p,
      "peak_rss_mb" -> vmHwmMb(), "gc_s" -> gcMs() / 1000.0,
      "heap_peak_mb" -> heapPeakMb(), "cores" -> cores)

    // Spans: each traced operation with its build, planning and job
    // children. QEs are matched to the operation whose span holds their
    // analysis start.
    val tracedTimers = timers.filter(_._2).map(_._1)
    val qeByOp = tracer.qes.groupBy { q =>
      tracedTimers.find(t => q.startMs >= t.startMs && q.startMs <= t.endMs)
        .map(_.id).getOrElse("")
    }
    tracedTimers.foreach { t =>
      val a = tracer.acc.getOrElse(t.id, new OpAcc)
      val qs = qeByOp.getOrElse(t.id, Nil)
      val jobUnion = unionMs(a.jobSpans.map(j => (j._2, j._3)).toSeq)
      records += Map("type" -> "span", "id" -> t.id,
        "start_ms" -> t.startMs, "end_ms" -> t.endMs,
        "build_s" -> t.buildNs / 1e9,
        "plans.analysis_s" -> qs.map(_.analysisMs).sum / 1000.0,
        "plans.optimize_s" -> qs.map(_.optimizeMs).sum / 1000.0,
        "plans.physical_s" -> qs.map(_.physicalMs).sum / 1000.0,
        "plans.qe" -> qs.size,
        "exec.jobs" -> a.jobs, "exec.stages" -> a.stages, "exec.tasks" -> a.tasks,
        "exec.job_span_s" -> jobUnion / 1000.0,
        "exec.driver_gap_s" -> math.max(0.0, t.wallS - jobUnion / 1000.0),
        "exec.sched_delay_s" -> a.schedMs / 1000.0,
        "exec.task_s" -> a.taskMs / 1000.0,
        "exec.task_cpu_s" -> a.cpuNs / 1e9,
        "exec.shuffle_write_mb" -> a.shuffleWrite / 1048576.0,
        "exec.shuffle_read_mb" -> a.shuffleRead / 1048576.0,
        "exec.spill_mb" -> a.spill / 1048576.0,
        "exec.input_mb" -> a.inputBytes / 1048576.0,
        "exec.input_rows" -> a.inputRows,
        "exec.output_mb" -> a.outputBytes / 1048576.0,
        "jobs" -> a.jobSpans.sortBy(_._2).map { case (j, s, e) =>
          Map("job" -> j, "start_ms" -> s, "end_ms" -> e) },
        "qes" -> qs.map(q => Map("start_ms" -> q.startMs,
          "analysis_ms" -> q.analysisMs, "optimize_ms" -> q.optimizeMs,
          "physical_ms" -> q.physicalMs)))
    }
    records.foreach(r => out.println(Json.str(r)))
    spark.stop()
  }
}

/** Seed-driven write and read cycles on three graft tables built from the
  * inputs:
  *  - `idx`: lineitem with per-file stats on `l_shipdate` and a Bloom
  *    index on `l_orderkey`; takes appends, compaction (`maintain`),
  *    `vacuum`, `checkpoint`, and the pruned and time-travel reads;
  *  - `mor`: plain lineitem under merge-on-read; takes positional
  *    DELETE/UPDATE and SQL UPDATE/DELETE/MERGE through `GraftCatalog`;
  *  - `side`: a streaming upsert sink fed one orders chunk per cycle.
  * Rows are bucketed by `pmod(l_orderkey, 64)`: buckets 0-15 are the base,
  * each append or MERGE insert brings a bucket the plan names. */
final class TableCycle(data: String, work: String) extends Workload {
  private val root = s"$work/tables"
  private val idx = s"$root/idx"
  private val mor = s"$root/mor"
  private val sideSrc = s"$root/side_src"
  private val side = s"$root/side"
  private val sideCkpt = s"$root/side_ckpt"
  private val enc = Seq("l_shipdate" -> "us")
  private val bloom = Some("l_orderkey")
  private def abs(d: String) = new java.io.File(d).getAbsolutePath

  private def bucket(c: String) = pmod(col(c), lit(64))
  private def li(spark: SparkSession): DataFrame =
    T.t(spark, data, "lineitem").select(
      (col("l_orderkey") * 8 + col("l_linenumber")).as("lid"),
      col("l_orderkey"), col("l_partkey"), col("l_quantity"),
      T.dec(col("l_extendedprice")).as("price"), col("l_shipdate"),
      col("l_returnflag"))
  private def orders(spark: SparkSession): DataFrame =
    T.t(spark, data, "orders").select(col("o_orderkey"), col("o_custkey"),
      T.dec(col("o_totalprice")).as("price"))

  private def micros = unix_micros(col("l_shipdate").cast("timestamp"))
  private def seconds = unix_seconds(col("l_shipdate").cast("timestamp"))

  /** Exact content fingerprint of a lineitem-shaped frame: every column
    * enters one aggregate, so the read computes all of them.
    * `perfbench/replay.py` computes the same sums in DuckDB. */
  private def fingerprint(df: DataFrame): DataFrame = df.agg(
    count(lit(1)), sum(col("lid")), sum(col("l_partkey")),
    sum(col("l_quantity").cast("long")),
    sum((col("price") * 100).cast("long")), sum(seconds),
    sum(when(col("l_returnflag") === "R", 1L).otherwise(0L)))

  private def fpString(r: Row): String =
    (0 until r.size).map(i => if (r.isNullAt(i)) "0" else r.get(i).toString)
      .mkString("|")

  private def files(dir: String): Map[String, Long] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Map.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .map(f => f.toString -> Files.size(f)).toMap
      finally s.close()
    }
  }

  private def head(spark: SparkSession, dir: String): Int =
    GraftTable.currentVersion(GraftTable.fsOf(spark, dir), dir).getOrElse(-1)

  private def runStream(spark: SparkSession): Unit = {
    val q = spark.readStream.format("graft")
      .option("maxVersionsPerTrigger", 1)
      .load(abs(sideSrc))
      .groupBy("o_custkey")
      .agg(sum(col("price")).as("total"), count(lit(1)).as("n"))
      .writeStream.format("graft")
      .outputMode("update")
      .option("path", abs(side))
      .option("upsertKeys", "o_custkey")
      .option("checkpointLocation", abs(sideCkpt))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
  }

  def setup(spark: SparkSession): Unit = new QueryMix(data).setup(spark)

  override def prepare(spark: SparkSession): Unit = {
    GraftTable.fsOf(spark, root).delete(new org.apache.hadoop.fs.Path(root), true)
    spark.conf.set("spark.sql.catalog.gtb", classOf[GraftCatalog].getName)
    // SQL UPDATE/DELETE on a plain head take the positional arm, so the
    // SQL and API doors share one tombstone regime on `mor`
    spark.conf.set("spark.graft.update.mode", "positional")
    spark.conf.set("spark.graft.delete.mode", "positional")
    val base = li(spark).where(bucket("l_orderkey") < 16)
    GraftTable.commitNextIsolated(spark, idx,
      base.repartitionByRange(4, col("l_shipdate")), "base",
      statsEnc = enc, bloomCol = bloom)
    GraftTable.commitNextIsolated(spark, mor, base.repartition(4), "base")
    GraftTable.commitNextIsolated(spark, sideSrc,
      orders(spark).where(bucket("o_orderkey") < 16), "base")
    runStream(spark)
  }

  private def read(spark: SparkSession, t: Timer, table: String, v: Int,
      df: => (DataFrame, Seq[String], Int), filter: DataFrame => DataFrame)
      : Map[String, Any] = {
    val (frame, read, total) = t.build(df)
    val r = t.action(fingerprint(filter(frame)).collect()(0))
    Map("kind" -> "read", "table" -> table, "version" -> v,
      "fingerprint" -> fpString(r), "rows" -> r.getLong(0),
      "files_read" -> read.size, "files_total" -> total)
  }

  private def plainRead(spark: SparkSession, dir: String, v: Int) = {
    val df = GraftTable.readVersion(spark, dir, v)
    val all = GraftTable.dataDirsOf(GraftTable.fsOf(spark, dir), dir, v)
      .map(d => files(s"$dir/$d").keys.count(_.endsWith(".parquet"))).sum
    val read = df.inputFiles.toSeq
    (df, read, math.max(all, read.size))
  }

  private def commit(spark: SparkSession, t: Timer, table: String)(
      f: => Unit): Map[String, Any] = {
    val dir = Map("idx" -> idx, "mor" -> mor, "side" -> side)(table)
    val before = files(dir)
    t.build(f)
    val after = files(dir)
    val added = after.filter { case (k, _) => !before.contains(k) }
    Map("kind" -> "commit", "table" -> table, "version" -> head(spark, dir),
      "written_bytes" -> added.values.sum, "files_written" -> added.size)
  }

  def exec(spark: SparkSession, op: Map[String, Any], t: Timer): Map[String, Any] = {
    def n(k: String) = Main.num(op(k))
    def byRem = pmod(col("lid"), lit(997)) === n("rem")
    op("door") match {
      case "append" => commit(spark, t, "idx") {
        GraftTable.commitAppend(spark, idx,
          li(spark).where(bucket("l_orderkey") === n("bucket"))
            .repartitionByRange(2, col("l_shipdate")),
          s"append ${n("bucket")}", statsEnc = enc, bloomCol = bloom)
      }
      case "maintain" => commit(spark, t, "idx") {
        GraftTable.maintain(spark, idx, maxChainDirs = 1, targetFiles = 4,
          bloomCol = bloom, statsEnc = enc)
      }
      case "vacuum" => commit(spark, t, "idx") {
        GraftTable.vacuum(GraftTable.fsOf(spark, idx), idx)
      }
      case "checkpoint" => commit(spark, t, "idx") {
        GraftTable.checkpoint(GraftTable.fsOf(spark, idx), idx)
      }
      case "delete_pos" => commit(spark, t, "mor") {
        GraftTable.commitPositionalDelete(spark, mor, byRem, "delete_pos")
      }
      case "update_pos" => commit(spark, t, "mor") {
        GraftTable.commitPositionalUpdate(spark, mor, byRem,
          Seq("l_quantity" -> (col("l_quantity") + 1),
            "price" -> (col("price") + 1).cast(DecimalType(12, 2))),
          "update_pos")
      }
      case "update_sql" => commit(spark, t, "mor") {
        spark.sql(s"UPDATE gtb.`${abs(mor)}` SET l_quantity = l_quantity + 2 " +
          s"WHERE lid % 997 = ${n("rem")}")
      }
      case "delete_sql" => commit(spark, t, "mor") {
        spark.sql(s"DELETE FROM gtb.`${abs(mor)}` WHERE lid % 997 = ${n("rem")}")
      }
      case "merge_sql" => commit(spark, t, "mor") {
        val b = n("bucket")
        li(spark).where(byRem && (bucket("l_orderkey") < 16 ||
            bucket("l_orderkey") === b))
          .withColumn("op", when(bucket("l_orderkey") === b, "I")
            .when(col("lid") % 2 === 0, "D").otherwise("U"))
          .createOrReplaceTempView("gtb_merge_src")
        spark.sql(
          s"""MERGE INTO gtb.`${abs(mor)}` t USING gtb_merge_src s ON t.lid = s.lid
             |WHEN MATCHED AND s.op = 'D' THEN DELETE
             |WHEN MATCHED THEN UPDATE SET price = t.price + 5
             |WHEN NOT MATCHED AND s.op = 'I' THEN INSERT
             |  (lid, l_orderkey, l_partkey, l_quantity, price, l_shipdate, l_returnflag)
             |  VALUES (s.lid, s.l_orderkey, s.l_partkey, s.l_quantity, s.price,
             |          s.l_shipdate, s.l_returnflag)""".stripMargin)
      }
      case "epoch_upsert" =>
        GraftTable.commitAppend(spark, sideSrc,
          orders(spark).where(bucket("o_orderkey") === n("bucket")),
          s"chunk ${n("bucket")}")
        commit(spark, t, "side")(runStream(spark))
      case "read_head" =>
        val v = head(spark, mor)
        read(spark, t, "mor", v, plainRead(spark, mor, v), identity)
      case "read_asof" =>
        val v = math.max(0, head(spark, idx) - n("back").toInt)
        read(spark, t, "idx", v, plainRead(spark, idx, v), identity)
      case "read_stats" =>
        val v = head(spark, idx)
        val (lo, hi) = (n("lo_us"), n("hi_us"))
        read(spark, t, "idx", v,
          GraftTable.readStatsBand(spark, idx, v, "l_shipdate", lo, hi),
          _.where(micros >= lo && micros <= hi))
      case "read_bloom" =>
        val v = head(spark, idx)
        val key = n("key")
        read(spark, t, "idx", v,
          GraftTable.readBloomEq(spark, idx, v, "l_orderkey", key),
          _.where(col("l_orderkey") === key))
    }
  }

  /** Table state after each cycle: versions, live data files of the
    * heads, and the bytes of tombstone sidecars. */
  override def afterPass(spark: SparkSession): Map[String, Any] = {
    val dirs = Seq(idx, mor)
    val live = dirs.map(d => GraftTable.read(spark, d).inputFiles.length).sum
    val tomb = files(mor).filter { case (k, _) =>
      val rel = k.stripPrefix(abs(mor))
      rel.contains("dv") && !rel.contains("/manifest/")
    }.values.sum
    Map("versions" -> dirs.map(d => GraftTable.versions(GraftTable.fsOf(spark, d), d).size).sum,
      "live_files" -> live, "tombstone_mb" -> tomb / 1048576.0)
  }

  /** Final heads for the replay check, then a last maintenance pass that
    * keeps only the head, and the space it leaves against the same rows
    * written as plain parquet. */
  override def finish(spark: SparkSession): Map[String, Any] = {
    def fp(dir: String) = fpString(fingerprint(GraftTable.read(spark, dir)).collect()(0))
    val sideFp = GraftTable.read(spark, side).agg(count(lit(1)),
      sum(col("o_custkey")), sum((col("total") * 100).cast("long")), sum(col("n")))
      .collect()(0)
    val heads = Map("idx" -> fp(idx), "mor" -> fp(mor), "side" -> fpString(sideFp))
    Seq(idx, mor).foreach { d =>
      try GraftTable.maintain(spark, d, maxChainDirs = 1, targetFiles = 4,
        bloomCol = if (d == idx) bloom else None,
        statsEnc = if (d == idx) enc else Nil, retainMs = 0L, vacuumGraceMs = 0L)
      catch { case _: Throwable => () }
      GraftTable.vacuum(GraftTable.fsOf(spark, d), d)
    }
    val plain = s"$work/plain"
    val headRows = Seq(idx, mor).map { d =>
      val df = GraftTable.read(spark, d)
      df.write.mode("overwrite").parquet(s"$plain/${new java.io.File(d).getName}")
      df.count()
    }.sum
    Map("heads" -> heads, "table_bytes" -> (files(idx).values.sum + files(mor).values.sum),
      "plain_bytes" -> files(plain).filter(_._1.endsWith(".parquet")).values.sum,
      "head_rows" -> headRows)
  }
}
