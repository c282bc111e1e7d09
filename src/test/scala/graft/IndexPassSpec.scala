package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.sources.GraftTable
import graft.sources.GraftTable.{FileStats, StatsCols, TableBloom}

/** The write-time index pass (`GraftTable.indexDataDir`): at every door
  * that indexes a just-written data dir — `commitNextIsolated`,
  * `commitAppendWithRetry`, `commitStagedDsv2` and `compactChainTail` —
  * the stats line must equal a per-file groupBy min/max/count of each
  * ordinal computed here, and every Bloom section must equal
  * `bloomPositions` applied to that file's values. The pass itself runs
  * one Spark job after the data write and never infers a schema. */
class IndexPassSpec extends SparkSpec {

  private def freshDir(tag: String): String = {
    val dir = s"target/tmp/idx_$tag"
    GraftTable.fsOf(spark, dir).delete(new Path(dir), true)
    dir
  }

  /** Decoded path of `uri` relative to the data dir `dd`. */
  private def relTo(dd: String, uri: String): String = {
    val p = new java.net.URI(uri).getPath
    p.substring(p.indexOf(s"/$dd/") + dd.length + 2)
  }

  /** 4000 ids in four input partitions, the first filtered empty (its
    * task writes the one zero-row file), `n` null throughout the second
    * (an all-null stat column), `s` a string key for a second Bloom
    * column, `p` a partition value. */
  private def fixture(from: Long = 0L): DataFrame =
    spark.range(from, from + 4000, 1, 4)
      .where(col("id") >= from + 1000)
      .select(col("id").as("k"),
        concat(lit("s"), (col("id") % 97).cast("string")).as("s"),
        timestamp_micros(col("id") * 3600000000L).as("ts"),
        when(col("id") >= from + 2000, col("id") * 7).as("n"),
        concat(lit("p"), (col("id") % 3).cast("string")).as("p"))

  private val enc = Seq("k" -> "id", "ts" -> "us")
  private val lambda: StatsCols = Seq("n" -> ((c: Column) => c * 2 - 5))
  private def encCols: StatsCols =
    enc.map { case (c, e) => c -> GraftTable.StatsEnc.ordinal(e) }

  /** Check version `v`'s entries for its last data dir against an
    * independent per-file computation. */
  private def checkIndex(dir: String, v: Int, statsCols: StatsCols,
      bloomCols: Seq[String]): Unit = {
    val fs = GraftTable.fsOf(spark, dir)
    val dd = GraftTable.dataDirsOf(fs, dir, v).last
    val data = spark.read.parquet(s"$dir/$dd")
    val files = data.inputFiles.toSeq.map(relTo(dd, _)).sorted

    if (statsCols.nonEmpty) {
      val aggs = statsCols.flatMap { case (n, ord) =>
        val l = ord(col(n)).cast("long")
        Seq(min(l), max(l), count(l))
      }
      val byFile = data.groupBy(input_file_name().as("f"))
        .agg(count(lit(1)), aggs: _*).collect()
        .map(r => relTo(dd, r.getString(0)) -> r).toMap
      val k = statsCols.size
      val expected = files.map { f =>
        byFile.get(f) match {
          case Some(r) =>
            val rows = r.getLong(1)
            def at(i: Int, empty: Long) = if (r.isNullAt(i)) empty else r.getLong(i)
            FileStats(f, rows,
              (0 until k).map(i => at(2 + 3 * i, Long.MaxValue)),
              (0 until k).map(i => at(3 + 3 * i, Long.MinValue)),
              (0 until k).map(i => rows - r.getLong(4 + 3 * i)))
          case None =>
            FileStats(f, 0L, Seq.fill(k)(Long.MaxValue),
              Seq.fill(k)(Long.MinValue), Seq.fill(k)(0L))
        }
      }
      val st = GraftTable.statsOf(fs, dir, v).get
      assert(st.cols == statsCols.map(_._1))
      val mine = st.files.filter(_.file.startsWith(s"$dd/"))
      val got =
        if (mine.nonEmpty) mine.map(f => f.copy(file = f.file.stripPrefix(s"$dd/")))
        else st.files
      assert(got == expected)
    }

    if (bloomCols.nonEmpty) {
      val in = fs.open(new Path(s"$dir/$dd/_bloom"))
      val sections =
        try TableBloom.decodeAll(new String(in.readAllBytes(), "UTF-8"))
        finally in.close()
      assert(sections.map(_.col) == bloomCols)
      val maxRows = math.max(1L, data.groupBy(input_file_name()).count()
        .agg(max("count")).collect()(0) match {
          case r if r.isNullAt(0) => 0L
          case r => r.getLong(0)
        })
      val m = math.min(1L << 24,
        math.max(1024L, ((maxRows * 12 + 63) / 64) * 64)).toInt
      sections.foreach { tb =>
        assert(tb.m == m && tb.k == 4)
        assert(tb.files.map(_._1) == files)
        val values = data.where(col(tb.col).isNotNull)
          .select(input_file_name(), col(tb.col)).distinct().collect()
          .groupBy(r => relTo(dd, r.getString(0)))
        tb.files.foreach { case (f, bits) =>
          val exp = new Array[Long](m / 64)
          values.getOrElse(f, Array.empty).foreach { r =>
            GraftTable.bloomPositions(r.get(1), m, 4)
              .foreach(p => exp(p >> 6) |= 1L << (p & 63))
          }
          assert(bits.sameElements(exp), s"section ${tb.col}, file $f")
        }
      }
    }
  }

  test("commitNextIsolated: zero-row file, all-null column, lambda stats, two-column Bloom") {
    val dir = freshDir("isolated")
    val stats = lambda ++ encCols
    GraftTable.commitNextIsolated(spark, dir, fixture().drop("p"), "base",
      statsCols = lambda, statsEnc = enc, bloomCols = Seq("k", "s"))
    val fs = GraftTable.fsOf(spark, dir)
    val st = GraftTable.statsOf(fs, dir, 0).get
    // the fixture's shapes really are present
    assert(st.files.exists(_.rows == 0L), st.files)
    assert(st.files.exists(f => f.rows > 0 && f.nulls(0) == f.rows), st.files)
    checkIndex(dir, 0, stats, Seq("k", "s"))
  }

  test("commitNextIsolated: partitionBy layout records partition-relative names") {
    val dir = freshDir("partby")
    GraftTable.commitNextIsolated(spark, dir, fixture(), "base",
      partitionBy = Seq("p"), statsEnc = enc, bloomCols = Seq("k", "s"))
    val st = GraftTable.statsOf(GraftTable.fsOf(spark, dir), dir, 0).get
    assert(st.files.forall(_.file.matches("p=p[012]/part-.*")), st.files)
    checkIndex(dir, 0, encCols, Seq("k", "s"))
  }

  test("commitAppendWithRetry: the appended dir gets its own stats and sidecar") {
    val dir = freshDir("append")
    GraftTable.commitNextIsolated(spark, dir, fixture().drop("p"), "base",
      statsCols = lambda, statsEnc = enc, bloomCols = Seq("k", "s"))
    GraftTable.commitAppendWithRetry(spark, dir, fixture(10000).drop("p"),
      "more", statsCols = lambda, statsEnc = enc, bloomCols = Seq("k", "s"))
    checkIndex(dir, 1, lambda ++ encCols, Seq("k", "s"))
  }

  test("commitStagedDsv2 and compactChainTail: staged and folded dirs are indexed") {
    val dir = freshDir("dsv2")
    GraftTable.commitNextIsolated(spark, dir, fixture().drop("p"), "base",
      statsEnc = enc, bloomCols = Seq("k", "s"))
    fixture(10000).drop("p").write.format("graft").mode("append").save(dir)
    checkIndex(dir, 1, encCols, Seq("k", "s"))
    GraftTable.compactChainTail(spark, dir, targetFiles = 2, statsEnc = enc,
      bloomCols = Seq("k", "s"))
    checkIndex(dir, 2, encCols, Seq("k", "s"))
    assert(GraftTable.read(spark, dir).count() == 6000L)
  }

  test("a file split across scan tasks: partials are merged per file") {
    val dir = freshDir("split")
    val hconf = spark.sparkContext.hadoopConfiguration
    val keys = Seq("spark.sql.files.maxPartitionBytes",
      "spark.sql.files.openCostInBytes")
    try {
      // many small row groups in ONE file, read back in many splits
      hconf.set("parquet.block.size", "8192")
      keys.foreach(spark.conf.set(_, "8192"))
      GraftTable.commitNextIsolated(spark, dir,
        fixture().drop("p").coalesce(1), "one file",
        statsCols = lambda, statsEnc = enc, bloomCols = Seq("k", "s"))
      val fs = GraftTable.fsOf(spark, dir)
      val dd = GraftTable.dataDirsOf(fs, dir, 0).head
      val scan = spark.read.parquet(s"$dir/$dd")
      assert(scan.inputFiles.length == 1)
      assert(scan.rdd.getNumPartitions > 1)
      checkIndex(dir, 0, lambda ++ encCols, Seq("k", "s"))
    } finally {
      hconf.unset("parquet.block.size")
      keys.foreach(spark.conf.unset)
    }
  }

  /** Jobs `f` runs, in order: (wrote output records, was created by a
    * DataFrameReader, i.e. schema inference or file listing). */
  private def jobsOf(f: => Unit): Seq[(Boolean, Boolean)] = {
    import org.apache.spark.scheduler._
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Seq[Int], String)]()
    val written = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.add((js.jobId, js.stageIds, js.stageInfos.map(_.details).mkString("\n")))
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          written.merge(te.stageId, te.taskMetrics.outputMetrics.recordsWritten,
            (a, b) => a + b)
    }
    val sc = spark.sparkContext
    org.apache.spark.graft.ListenerDrain(sc)
    sc.addSparkListener(listener)
    try { f; org.apache.spark.graft.ListenerDrain(sc) }
    finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    jobs.asScala.toSeq.sortBy(_._1).map { case (_, stages, details) =>
      (stages.exists(s => Option(written.get(s)).exists(_ > 0L)),
        details.contains("DataFrameReader"))
    }
  }

  test("stats+Bloom append and compacting maintain run at most 2 jobs after the data write, none inferring") {
    val dir = freshDir("jobs")
    GraftTable.commitNextIsolated(spark, dir, fixture().drop("p"), "base",
      statsEnc = enc, bloomCol = Some("k"))
    for ((door, jobs) <- Seq(
        "append" -> jobsOf(GraftTable.commitAppend(spark, dir,
          fixture(10000).drop("p").repartition(2), "more",
          statsEnc = enc, bloomCol = Some("k"))),
        "maintain" -> jobsOf(GraftTable.maintain(spark, dir,
          maxChainDirs = 1, targetFiles = 2, statsEnc = enc,
          bloomCol = Some("k"))))) {
      val lastWrite = jobs.lastIndexWhere(_._1)
      assert(lastWrite >= 0, s"$door: no data-write job seen in $jobs")
      assert(jobs.size - lastWrite - 1 <= 2,
        s"$door: ${jobs.size - lastWrite - 1} jobs after the data write")
      assert(!jobs.exists(_._2), s"$door: a reader (inference) job ran: $jobs")
    }
    assert(GraftTable.dataDirsOf(GraftTable.fsOf(spark, dir), dir, 2).size == 1)
    checkIndex(dir, 2, encCols, Seq("k"))
  }
}
