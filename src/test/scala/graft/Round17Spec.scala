package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.sources.GraftTable

/** Round-17 surface: copy-on-write SQL DML on indexed/partitioned
  * targets, nested-field UPDATE SET, partitionBy DSv2/SQL writes,
  * MERGE WITH SCHEMA EVOLUTION, the Update-mode streaming upsert door,
  * deferred-execution action TVFs, and the vacuum/in-flight-epoch
  * guard. */
class Round17Spec extends SparkSpec {

  private def freshDir(tag: String): String = {
    val dir = s"target/tmp/r17_${tag}"
    val fs = GraftTable.fsOf(spark, dir)
    fs.delete(new Path(dir), true)
    dir
  }

  private def withCatalog(name: String): Unit =
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[graft.sources.GraftCatalog].getName)

  /** Files the physical scan actually plans (read-set truth). */
  private def plannedFiles(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.datasources.FilePartition
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val plan = df.queryExecution.executedPlan match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        a.inputPlan
      case p => p
    }
    plan.collect { case b: BatchScanExec =>
      b.inputRDD.partitions.flatMap {
        case p: org.apache.spark.sql.execution.datasources.v2
            .DataSourceRDDPartition =>
          p.inputPartitions.flatMap {
            case fp: FilePartition => fp.files.map(_.urlEncodedPath)
            case _ => Nil
          }
        case _ => Nil
      }.toSeq
    }.flatten
  }

  // ---- 1. copy-on-write SQL DML ----------------------------------------

  test("sql: UPDATE/DELETE on a partitionBy table rewrite copy-on-write, layout preserved, pruning live") {
    import spark.implicits._
    val dir = freshDir("pbdml")
    val base = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "a", 30L),
      (4L, "b", 40L)).toDF("k", "p", "v")
    GraftTable.commitNextIsolated(spark, dir, base, "partitioned",
      partitionBy = Seq("p"))
    withCatalog("gt17s")
    val abs = new java.io.File(dir).getAbsolutePath
    spark.sql(s"UPDATE gt17s.`$abs` SET v = v + 1 WHERE k = 1")
    spark.sql(s"DELETE FROM gt17s.`$abs` WHERE k = 4")
    val got = GraftTable.read(spark, dir)
      .select(col("k"), col("p"), col("v")).as[(Long, String, Long)]
      .collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, "a", 11L), (2L, "b", 20L), (3L, "a", 30L)),
      s"got $got")
    // the head version still carries the partby header, its data dir is
    // value-partitioned on disk, and a partition filter PRUNES files
    val fs = GraftTable.fsOf(spark, dir)
    val hdrs = GraftTable.headersOf(fs, dir, 2)
    assert(hdrs("partby") == "p")
    val dd = hdrs("data")
    assert(fs.exists(new Path(s"$dir/$dd/p=a")) &&
      fs.exists(new Path(s"$dir/$dd/p=b")))
    val pruned = spark.read.format("graft").load(abs)
      .where(col("p") === "a")
    assert(pruned.count() == 2L)
    val planned = plannedFiles(pruned)
    assert(planned.nonEmpty && planned.forall(_.contains("p=a")),
      s"partition pruning must hold after CoW DML: $planned")
  }

  test("sql: nested UPDATE refusals — overlapping paths, column+field, dotted names") {
    import spark.implicits._
    val dir = freshDir("nestref")
    GraftTable.commitNextIsolated(spark, dir,
      Seq((1L, (10L, "x"))).toDF("k", "s"), "base")
    withCatalog("gt17s")
    val abs = new java.io.File(dir).getAbsolutePath
    val e1 = intercept[Exception] {
      spark.sql(s"UPDATE gt17s.`$abs` SET s._1 = 1, s._1 = 2 WHERE k = 1")
    }
    assert(e1.getMessage.contains("overlapping") ||
      e1.getMessage.contains("more than once") ||
      e1.getMessage.toLowerCase.contains("duplicate"), e1.getMessage)
    val e2 = intercept[Exception] {
      spark.sql(
        s"UPDATE gt17s.`$abs` SET s = named_struct('_1', 1L, '_2', 'y')," +
          " s._1 = 2 WHERE k = 1")
    }
    assert(e2.getMessage.contains("more than once") ||
      e2.getMessage.toLowerCase.contains("conflict") ||
      e2.getMessage.toLowerCase.contains("duplicate"), e2.getMessage)
    // and the happy path composes two fields of one struct in one
    // statement, both reading PRE-update values (simultaneous rule)
    spark.sql(s"UPDATE gt17s.`$abs` SET s._1 = s._1 * 2, " +
      "s._2 = concat(s._2, cast(s._1 as string)) WHERE k = 1")
    val r = GraftTable.read(spark, dir).select(col("s._1"), col("s._2"))
      .as[(Long, String)].collect().head
    assert(r == ((20L, "x10")), s"got $r")
  }

  test("api: commitDeleteVector pins the expected version and refuses indexed heads") {
    import spark.implicits._
    val dir = freshDir("dvpin")
    GraftTable.commitNextIsolated(spark, dir,
      Seq(1L, 2L, 3L).toDF("k"), "v0")
    // a commit interleaving between the caller's read and the delete
    // refuses instead of applying stale tombstones to the new head
    GraftTable.commitNextIsolated(spark, dir,
      Seq(1L, 2L, 3L, 4L).toDF("k"), "v1 interloper")
    intercept[java.util.ConcurrentModificationException] {
      GraftTable.commitDeleteVector(spark, dir, Seq(2L).toDF("k"),
        Seq("k"), "stale", expectVersion = Some(0))
    }
    // the refusal minted nothing
    assert(GraftTable.versions(GraftTable.fsOf(spark, dir), dir) ==
      Seq(0, 1))
    // and an indexed head refuses the MoR delete from the API too
    val dir2 = freshDir("dvpinidx")
    GraftTable.commitNextIsolated(spark, dir2, Seq(1L, 2L).toDF("k"),
      "indexed", statsEnc = Seq("k" -> "id"))
    intercept[GraftTable.IndexRedeclarationRequired] {
      GraftTable.commitDeleteVector(spark, dir2, Seq(1L).toDF("k"),
        Seq("k"), "refused")
    }
  }

  // ---- 2. partitionBy DSv2/SQL writes ----------------------------------

  test("dsv2: partby append re-lays out the staged dir, the chain reads whole and pruned, indexed-partby appends refuse") {
    import spark.implicits._
    val dir = freshDir("pbappend")
    GraftTable.commitNextIsolated(spark, dir,
      Seq((1L, "a"), (2L, "b")).toDF("k", "p"), "head",
      partitionBy = Seq("p"))
    val abs = new java.io.File(dir).getAbsolutePath
    Seq((3L, "a"), (4L, "c")).toDF("k", "p")
      .write.format("graft").mode("append").save(abs)
    val fs = GraftTable.fsOf(spark, dir)
    val hdrs = GraftTable.headersOf(fs, dir, 1)
    assert(hdrs("partby") == "p")
    val appended = hdrs("append")
    assert(fs.exists(new Path(s"$dir/$appended/p=a")) &&
      fs.exists(new Path(s"$dir/$appended/p=c")),
      "the appended dir must be partitionBy-shaped")
    // both doors serve the union; the DSv2 scan prunes on p
    assert(GraftTable.read(spark, dir).select(col("k"))
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L, 3L, 4L))
    val tbl = spark.read.format("graft").load(abs)
    assert(tbl.where(col("p") === "a").select(col("k"))
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 3L))
    val planned = plannedFiles(tbl.where(col("p") === "a"))
    assert(planned.nonEmpty && planned.forall(_.contains("p=a")),
      s"partition pruning must prune across the chain: $planned")
    // overwrite flattens nothing either: it re-lays out too
    Seq((9L, "z")).toDF("k", "p")
      .write.format("graft").mode("overwrite").save(abs)
    val h2 = GraftTable.headersOf(fs, dir, 2)
    assert(h2("partby") == "p" &&
      fs.exists(new Path(s"$dir/${h2("data")}/p=z")))
    // an INDEX-bearing partby chain refuses appends loudly
    val dir3 = freshDir("pbappendidx")
    GraftTable.commitNextIsolated(spark, dir3,
      Seq((1L, "a")).toDF("k", "p"), "indexed partby",
      partitionBy = Seq("p"), statsEnc = Seq("k" -> "id"))
    val e = intercept[Exception] {
      Seq((2L, "b")).toDF("k", "p").write.format("graft")
        .mode("append").save(new java.io.File(dir3).getAbsolutePath)
    }
    assert(e.getMessage.contains("index-bearing partitionBy"),
      e.getMessage)
  }

  // ---- 3. MERGE WITH SCHEMA EVOLUTION ----------------------------------

  test("sql: merge evolution — undeclared extra source columns do NOT land; declared ones backfill NULL and old versions stay narrow") {
    import spark.implicits._
    val dir = freshDir("evo")
    GraftTable.commitNextIsolated(spark, dir,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), "narrow base")
    withCatalog("gt17s")
    val abs = new java.io.File(dir).getAbsolutePath
    Seq((2L, 21L, "x"), (3L, 30L, "y")).toDF("k", "v", "extra")
      .createOrReplaceTempView("r17s_evo_src")
    // WITHOUT the declaration: the merge lands, `extra` does not
    spark.sql(
      s"""MERGE INTO gt17s.`$abs` t USING r17s_evo_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(GraftTable.read(spark, dir).columns.toSeq == Seq("k", "v"))
    assert(GraftTable.read(spark, dir).as[(Long, Long)].collect()
      .sortBy(_._1).toSeq == Seq((1L, 10L), (2L, 21L), (3L, 30L)))
    // WITH the declaration: extra lands, star-updated/inserted rows
    // carry source values, source-less rows backfill NULL
    spark.sql(
      s"""MERGE WITH SCHEMA EVOLUTION INTO gt17s.`$abs` t
         |USING r17s_evo_src s ON t.k = s.k
         |WHEN MATCHED THEN UPDATE SET *
         |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val got = GraftTable.read(spark, dir)
      .select(col("k"), col("v"), col("extra"))
      .as[(Long, Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(got == Seq((1L, 10L, None), (2L, 21L, Some("x")),
      (3L, 30L, Some("y"))), s"got $got")
    // time travel: versions from before the evolution stay narrow
    assert(GraftTable.readVersion(spark, dir, 1).columns.toSeq ==
      Seq("k", "v"))
  }

  // ---- 4. Update-mode streaming upsert ----------------------------------

  test("stream upsert: crash-window replay mints nothing and never double-applies; plain Update mode refuses without upsertKeys") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    val dir = freshDir("upsink")
    val ckpt = freshDir("upsink_ckpt")
    val fs = GraftTable.fsOf(spark, dir)
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    def start() = mem.toDF().toDF("tag", "x")
      .groupBy("tag").agg(sum(col("x")).as("total"))
      .writeStream.format("graft")
      .outputMode("update")
      .option("path", new java.io.File(dir).getAbsolutePath)
      .option("upsertKeys", "tag")
      .option("checkpointLocation", ckpt)
      .start()
    val q = start()
    mem.addData(("a", 1L), ("b", 2L)); q.processAllAvailable()
    mem.addData(("a", 10L)); q.processAllAvailable()
    q.stop()
    def state(): Seq[(String, Long)] = GraftTable.read(spark, dir)
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    assert(state() == Seq(("a", 11L), ("b", 2L)), s"got ${state()}")
    assert(GraftTable.versions(fs, dir) == Seq(0, 1))
    // CRASH WINDOW: the sink committed epoch 1 but the engine died
    // before recording it — drop the commit log entry and restart; the
    // re-delivered epoch must mint nothing and change nothing
    fs.delete(new Path(s"$ckpt/commits/1"), false)
    val q2 = start()
    q2.processAllAvailable()
    assert(GraftTable.versions(fs, dir) == Seq(0, 1),
      "a replayed upsert epoch must not mint a version")
    assert(state() == Seq(("a", 11L), ("b", 2L)))
    // post-restart the SAME history continues: a replaces again
    mem.addData(("a", 100L), ("c", 5L)); q2.processAllAvailable(); q2.stop()
    assert(state() == Seq(("a", 111L), ("b", 2L), ("c", 5L)),
      s"got ${state()}")
    assert(GraftTable.versions(fs, dir) == Seq(0, 1, 2))
    // Update mode WITHOUT upsertKeys refuses via Spark's own validation
    val dir2 = freshDir("upsink2")
    val e = intercept[Exception] {
      val qq = mem.toDF().toDF("tag", "x")
        .groupBy("tag").agg(sum(col("x")).as("total"))
        .writeStream.format("graft")
        .outputMode("update")
        .option("path", new java.io.File(dir2).getAbsolutePath)
        .option("checkpointLocation", freshDir("upsink2_ckpt"))
        .start()
      mem.addData(("z", 1L)); qq.processAllAvailable(); qq.stop()
      qq.exception.foreach(throw _)
    }
    assert(e.getMessage != null &&
      (e.getMessage.toLowerCase.contains("update") ||
        Option(e.getCause).exists(_.getMessage.toLowerCase
          .contains("update"))), s"unexpected: ${e.getMessage}")
  }

  test("stream upsert: indexed sinks refuse, batch writes with upsertKeys refuse") {
    import spark.implicits._
    val dir = freshDir("upsinkidx")
    GraftTable.commitNextIsolated(spark, dir,
      Seq(("a", 1L)).toDF("tag", "total"), "indexed sink",
      statsEnc = Seq("total" -> "id"))
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Long)]
    val e = intercept[Exception] {
      val q = mem.toDF().toDF("tag", "total")
        .writeStream.format("graft")
        .option("path", new java.io.File(dir).getAbsolutePath)
        .option("upsertKeys", "tag")
        .option("checkpointLocation", freshDir("upsinkidx_ckpt"))
        .start()
      mem.addData(("b", 2L)); q.processAllAvailable(); q.stop()
      q.exception.foreach(throw _)
    }
    assert(e.getMessage.contains("skipping index") ||
      Option(e.getCause).exists(_.getMessage.contains("skipping index")),
      s"unexpected: ${e.getMessage}")
    val e2 = intercept[Exception] {
      Seq(("c", 3L)).toDF("tag", "total").write.format("graft")
        .mode("append").option("upsertKeys", "tag")
        .save(new java.io.File(freshDir("upsinkbatch")).getAbsolutePath)
    }
    assert(e2.getMessage.contains("MERGE INTO"), e2.getMessage)
  }

  // ---- 5. deferred action TVFs ------------------------------------------

  test("sql: EXPLAIN over an action TVF performs no mutation; execution does") {
    import spark.implicits._
    val dir = freshDir("tvfdefer")
    GraftTable.commitNextIsolated(spark, dir, Seq(1L, 2L).toDF("k"), "v0")
    GraftTable.commitNextIsolated(spark, dir, Seq(3L).toDF("k"), "v1")
    val fs = GraftTable.fsOf(spark, dir)
    Graft.registerFunctions(spark)
    spark.sql(s"EXPLAIN SELECT * FROM graft_restore('$dir', 0)").collect()
    assert(GraftTable.currentVersion(fs, dir).contains(1),
      "EXPLAIN must not restore")
    spark.sql(s"EXPLAIN EXTENDED SELECT * FROM graft_optimize('$dir')")
      .collect()
    assert(GraftTable.versions(fs, dir) == Seq(0, 1),
      "EXPLAIN must not optimize")
    val r = spark.sql(s"SELECT * FROM graft_restore('$dir', 0)").collect()
    assert(r.head.getInt(0) == 0 && r.head.getInt(1) == 2)
    assert(GraftTable.read(spark, dir).count() == 2L)
  }

  // ---- 6. vacuum vs in-flight epochs ------------------------------------

  test("vacuum: a tagged epoch staged AHEAD of its query's history survives any grace; at/behind history it reclaims") {
    import spark.implicits._
    val dir = freshDir("vacinflight")
    val fs = GraftTable.fsOf(spark, dir)
    GraftTable.commitNextIsolated(spark, dir, Seq(1L).toDF("k"), "base")
    val qid = "query-abc"
    val tag = GraftTable.queryTag(qid)
    // epoch 5 committed for this query
    val ep5 = s"ep5_$tag-run00001"
    fs.mkdirs(new Path(s"$dir/$ep5"))
    fs.create(new Path(s"$dir/$ep5/part-0-5.parquet"), true).close()
    Seq(2L).toDF("k").write.mode("overwrite").parquet(s"$dir/$ep5")
    GraftTable.commitEpochStaged(spark, dir, 5L, ep5,
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType))), qid)
    // an IN-FLIGHT epoch 6 staging, ancient mtimes — must survive
    val ep6 = s"ep6_$tag-run00002"
    fs.mkdirs(new Path(s"$dir/$ep6"))
    fs.create(new Path(s"$dir/$ep6/part-0-6.parquet"), true).close()
    val old = System.currentTimeMillis() - 24 * 3600 * 1000L
    fs.setTimes(new Path(s"$dir/$ep6/part-0-6.parquet"), old, old)
    fs.setTimes(new Path(s"$dir/$ep6"), old, old)
    // and a REPLAY-dead epoch 4 staging (behind the committed history)
    val ep4 = s"ep4_$tag-run00003"
    fs.mkdirs(new Path(s"$dir/$ep4"))
    fs.create(new Path(s"$dir/$ep4/part-0-4.parquet"), true).close()
    fs.setTimes(new Path(s"$dir/$ep4/part-0-4.parquet"), old, old)
    fs.setTimes(new Path(s"$dir/$ep4"), old, old)
    val reclaimed = GraftTable.vacuum(fs, dir, graceMs = 0L)
    assert(reclaimed.contains(ep4), s"dead replay must reclaim: $reclaimed")
    assert(!reclaimed.contains(ep6) && fs.exists(new Path(s"$dir/$ep6")),
      "an in-flight epoch ahead of its query's history must survive")
  }

  // ---- 7. rename / drop column semantics ---------------------------------

  test("alter names: rename serves both doors and time travel, chains one hop deep, CoW DML normalizes; refusals hold") {
    import spark.implicits._
    val dir = freshDir("rencol")
    val fs = GraftTable.fsOf(spark, dir)
    GraftTable.commitNextIsolated(spark, dir,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), "v0")
    GraftTable.commitAppend(spark, dir, Seq((3L, 30L)).toDF("k", "v"), "v1")
    withCatalog("gt17s")
    val abs = new java.io.File(dir).getAbsolutePath
    spark.sql(s"ALTER TABLE gt17s.`$abs` RENAME COLUMN v TO w")
    // both doors serve the new name across the 2-dir chain; pushdown on
    // the renamed column reaches the physical files
    assert(GraftTable.read(spark, dir).select(col("k"), col("w"))
      .as[(Long, Long)].collect().sortBy(_._1).toSeq ==
      Seq((1L, 10L), (2L, 20L), (3L, 30L)))
    assert(spark.sql(s"SELECT k FROM gt17s.`$abs` WHERE w > 15")
      .collect().map(_.getLong(0)).sorted.toSeq == Seq(2L, 3L))
    // old versions still serve THEIR names (time travel is honest)
    assert(GraftTable.readVersion(spark, dir, 1).columns.toSeq ==
      Seq("k", "v"))
    // a chained second rename stays one mapping hop deep
    spark.sql(s"ALTER TABLE gt17s.`$abs` RENAME COLUMN w TO x")
    assert(GraftTable.colmapDecode(
      GraftTable.headersOf(fs, dir, 3)("colmap")) == Map("x" -> "v"))
    // appends refuse on a mapped head (physical names would diverge)
    val eApp = intercept[Exception] {
      GraftTable.commitAppend(spark, dir, Seq((4L, 40L)).toDF("k", "x"))
    }
    assert(eApp.getMessage.contains("renamed/dropped-column"),
      eApp.getMessage)
    // SQL UPDATE takes the CoW arm and NORMALIZES: the new head's files
    // carry the logical names and the mapping is gone
    spark.sql(s"UPDATE gt17s.`$abs` SET x = x + 1 WHERE k = 1")
    val head = GraftTable.currentVersion(fs, dir).get
    assert(!GraftTable.headersOf(fs, dir, head).contains("colmap"))
    assert(GraftTable.read(spark, dir).select(col("k"), col("x"))
      .as[(Long, Long)].collect().sortBy(_._1).toSeq ==
      Seq((1L, 11L), (2L, 20L), (3L, 30L)))
    // refusals: partition column, indexed table, declared constraints
    val dirP = freshDir("rencolp")
    GraftTable.commitNextIsolated(spark, dirP,
      Seq((1L, "a")).toDF("k", "p"), "pb", partitionBy = Seq("p"))
    val eP = intercept[Exception] {
      GraftTable.commitRenameColumns(spark, dirP, Seq("p" -> "q"))
    }
    assert(eP.getMessage.contains("partition column"), eP.getMessage)
    val dirI = freshDir("rencoli")
    GraftTable.commitNextIsolated(spark, dirI,
      Seq((1L, 2L)).toDF("k", "v"), "idx", statsEnc = Seq("k" -> "id"))
    val eI = intercept[Exception] {
      GraftTable.commitRenameColumns(spark, dirI, Seq("v" -> "w"))
    }
    assert(eI.getMessage.contains("index-bearing"), eI.getMessage)
  }

  test("alter names: DROP then re-ADD the same name backfills NULL — never resurrects the dropped bytes") {
    import spark.implicits._
    val dir = freshDir("dropreadd")
    GraftTable.commitNextIsolated(spark, dir,
      Seq((1L, "secret"), (2L, "hidden")).toDF("k", "t"), "v0")
    withCatalog("gt17s")
    val abs = new java.io.File(dir).getAbsolutePath
    spark.sql(s"ALTER TABLE gt17s.`$abs` DROP COLUMN t")
    assert(GraftTable.read(spark, dir).columns.toSeq == Seq("k"))
    spark.sql(s"ALTER TABLE gt17s.`$abs` ADD COLUMNS (t STRING)")
    // the files still hold 'secret'/'hidden' under the physical name t;
    // the re-added logical t must read NULL through BOTH doors
    val api = GraftTable.read(spark, dir).select(col("k"), col("t"))
      .as[(Long, Option[String])].collect().sortBy(_._1).toSeq
    assert(api == Seq((1L, None), (2L, None)), s"resurrected: $api")
    val sql = spark.sql(s"SELECT k, t FROM gt17s.`$abs` ORDER BY k")
      .collect().map(r => (r.getLong(0), Option(r.getString(1)))).toSeq
    assert(sql == Seq((1L, None), (2L, None)), s"resurrected: $sql")
  }

  // ---- 8. catalog refusals ----------------------------------------------

  test("sql: ALTER TABLE ADD COLUMN with COMMENT refuses loudly") {
    import spark.implicits._
    val dir = freshDir("altercomment")
    GraftTable.commitNextIsolated(spark, dir, Seq(1L).toDF("k"), "base")
    withCatalog("gt17s")
    val abs = new java.io.File(dir).getAbsolutePath
    val e = intercept[Exception] {
      spark.sql(
        s"ALTER TABLE gt17s.`$abs` ADD COLUMNS (c INT COMMENT 'nope')")
    }
    assert(e.getMessage.contains("COMMENT"), e.getMessage)
    // the refusal minted nothing
    assert(GraftTable.versions(GraftTable.fsOf(spark, dir), dir) == Seq(0))
  }

  // ---- 8b. serializable OCC retry for SQL DML ----------------------------

  /** Run two SQL statements concurrently (latch-released) and return
    * any errors. */
  private def race(stmts: Seq[String]): Seq[Throwable] = {
    val latch = new java.util.concurrent.CountDownLatch(1)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = stmts.map { q =>
      new Thread(() => {
        latch.await()
        try spark.sql(q) catch { case e: Throwable => errs.add(e) }
      })
    }
    threads.foreach(_.start()); latch.countDown()
    threads.foreach(_.join(120000))
    errs.toArray(Array.empty[Throwable]).toSeq
  }

  test("sql: racing UPDATEs on a flat table both land — serializable retry, no lost update") {
    import spark.implicits._
    val dir = freshDir("dmlrace")
    GraftTable.commitNextIsolated(spark, dir,
      (1L to 8L).map(k => (k, k * 10)).toDF("k", "v"), "base")
    withCatalog("gt17s")
    val abs = new java.io.File(dir).getAbsolutePath
    val errs = race(Seq(
      s"UPDATE gt17s.`$abs` SET v = v + 1 WHERE k <= 4",
      s"UPDATE gt17s.`$abs` SET v = v + 100 WHERE k >= 3"))
    assert(errs.isEmpty, errs.map(_.getMessage))
    val got = GraftTable.read(spark, dir).as[(Long, Long)]
      .collect().sortBy(_._1).toSeq
    // both statements applied exactly once, in SOME serial order (the
    // increments commute, so the final state is unique)
    val want = (1L to 8L).map(k => (k, k * 10 +
      (if (k <= 4) 1L else 0L) + (if (k >= 3) 100L else 0L)))
    assert(got == want, s"got $got")
    assert(GraftTable.versions(GraftTable.fsOf(spark, dir), dir)
      == Seq(0, 1, 2), "each statement lands exactly one version")
  }

  test("sql: a racing UPDATE and DELETE on an INDEXED table both land through the CoW retry, index live afterwards") {
    import spark.implicits._
    val dir = freshDir("dmlraceidx")
    GraftTable.commitNextIsolated(spark, dir,
      (1L to 8L).map(k => (k, k * 10)).toDF("k", "v")
        .repartition(2, pmod(col("k"), lit(2))).sortWithinPartitions("k"),
      "indexed base", statsEnc = Seq("k" -> "id"), bloomCols = Seq("k"))
    withCatalog("gt17s")
    val abs = new java.io.File(dir).getAbsolutePath
    val errs = race(Seq(
      s"UPDATE gt17s.`$abs` SET v = v + 1 WHERE k <= 2",
      s"DELETE FROM gt17s.`$abs` WHERE k >= 7"))
    assert(errs.isEmpty, errs.map(_.getMessage))
    val got = GraftTable.read(spark, dir).as[(Long, Long)]
      .collect().sortBy(_._1).toSeq
    assert(got == (1L to 6L).map(k =>
      (k, k * 10 + (if (k <= 2) 1L else 0L))), s"got $got")
    // the head still carries its rebuilt index, and the probe resolves
    val fs = GraftTable.fsOf(spark, dir)
    val cur = GraftTable.currentVersion(fs, dir).get
    val hdrs = GraftTable.headersOf(fs, dir, cur)
    assert(hdrs.contains("stats") && hdrs.contains("bloom"))
    val probe = GraftTable.readBloomEq(spark, dir, cur, "k", 1L)._1
      .where(col("k") === 1L).collect()
    assert(probe.length == 1 && probe.head.getLong(1) == 11L)
  }

  test("api: commitUpdateImpl pins the expected version — a raced arm decision surfaces as the retryable conflict") {
    import spark.implicits._
    val dir = freshDir("updpin")
    GraftTable.commitNextIsolated(spark, dir,
      Seq((1L, 10L), (2L, 20L)).toDF("k", "v"), "v0")
    GraftTable.commitNextIsolated(spark, dir,
      Seq((1L, 10L), (2L, 20L), (3L, 30L)).toDF("k", "v"), "v1 interloper")
    intercept[java.util.ConcurrentModificationException] {
      GraftTable.commitUpdateImpl(spark, dir, keyColsOpt = None,
        col("k") === 1L, Seq("v" -> lit(99L)), "stale",
        expectVersion = Some(0))
    }
    assert(GraftTable.versions(GraftTable.fsOf(spark, dir), dir)
      == Seq(0, 1), "the refused update minted nothing")
  }

  test("stats: special-character partition values — recorded names are decoded, so band pruning and meta-agg coverage work") {
    import spark.implicits._
    val dir = freshDir("statsdec")
    val df = Seq((1L, "a b"), (2L, "a b"), (55L, "c%d"))
      .toDF("k", "p")
    GraftTable.commitNextIsolated(spark, dir, df, "special chars",
      partitionBy = Seq("p"), statsEnc = Seq("k" -> "id"))
    val t = spark.read.format("graft").load(dir)
    // the band verdict must KEEP the matching file (the encoded-name
    // bug made the keep set match no planned path — zero rows)
    val hit = t.where(col("k") === 55L)
    assert(hit.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
      == Seq((55L, "c%d")))
    // and it actually PRUNED: only the c%d dir's file planned
    // plannedFiles serves urlEncodedPath: the on-disk dir is the
    // hive-escaped p=c%25d, URL-encoded once more to p=c%2525d
    val planned = plannedFiles(hit)
    assert(planned.nonEmpty && planned.forall(_.contains("p=c%2525d")),
      s"band pruning must keep exactly the matching dir: $planned")
    // the meta-agg coverage gate (stats set-equal to live files) passes
    val m = t.agg(count(lit(1)).as("n"))
    assert(metaAggEngaged(m), m.queryExecution.executedPlan.toString)
    assert(m.collect().head.getLong(0) == 3L)
  }

  test("bloom: special-character partition values — sidecar names are decoded, so both Bloom reads find the row") {
    import spark.implicits._
    val dir = freshDir("bloomdec")
    val df = Seq((1L, "a b"), (2L, "a b"), (55L, "c%d"))
      .toDF("k", "p")
    GraftTable.commitNextIsolated(spark, dir, df, "special chars",
      partitionBy = Seq("p"), bloomCol = Some("k"))
    // the sidecar and the stats line share one name form: the raw
    // on-disk relative path (hive-escaped p=c%25d, never %2525)
    val bt = GraftTable.bloomTable(spark, dir, 0).collect()
      .map(_.getAs[String]("file")).toSet
    assert(bt.exists(_.startsWith("p=a b/")) &&
      bt.exists(_.startsWith("p=c%25d/")), bt)
    // the API probe opens the candidate files by their recorded names
    val (hitDf, hit, total) = GraftTable.readBloomEq(spark, dir, 0, "k", 1L)
    assert(total == 3 && hit.size == 1, hit)
    assert(hitDf.where(col("k") === 1L).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((1L, "a b")))
    // the DSv2 scan's Bloom keep set must match its planned paths
    val t = spark.read.format("graft").load(dir)
    for ((k, p) <- Seq((1L, "a b"), (55L, "c%d"))) {
      val q = t.where(col("k") === k)
      assert(q.collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        == Seq((k, p)))
      assert(plannedFiles(q).size == 1, plannedFiles(q))
    }
  }

  // ---- 9. metadata-only aggregate pushdown ------------------------------

  private def metaAggEngaged(df: org.apache.spark.sql.DataFrame): Boolean = {
    val p = df.queryExecution.executedPlan.toString
    p.contains("GraftMetaAggScan") && !p.contains("HashAggregate")
  }

  /** (key, odate-ntz, nullable ck) fixture with a registry stats line. */
  private def metaAggFixture(tag: String,
      statsEnc: Seq[(String, String)]): String = {
    import spark.implicits._
    val dir = freshDir(tag)
    val df = Seq(
      (1L, java.time.LocalDateTime.of(2024, 1, 3, 10, 30), Some(7L)),
      (2L, java.time.LocalDateTime.of(2024, 2, 1, 0, 0), None),
      (5L, java.time.LocalDateTime.of(2023, 12, 31, 23, 59), Some(9L)),
      (9L, java.time.LocalDateTime.of(2024, 6, 15, 5, 0), None))
      .toDF("key", "odate", "ck")
      .repartition(2, pmod(col("key"), lit(2)))
      .sortWithinPartitions("key")
    GraftTable.commitNextIsolated(spark, dir, df, "meta-agg fixture",
      statsEnc = statsEnc)
    dir
  }

  test("meta-agg: COUNT/MIN/MAX/COUNT(col) answered from the manifest — one-row scan, no aggregate, no file read") {
    val dir = metaAggFixture("metaagg",
      Seq("key" -> "id", "odate" -> "us", "ck" -> "id"))
    val q = spark.read.format("graft").load(dir).agg(
      count(lit(1)).as("n"), min("key").as("mnk"), max("key").as("mxk"),
      min("odate").as("mnd"), max("odate").as("mxd"),
      count("ck").as("nck"))
    assert(metaAggEngaged(q), q.queryExecution.executedPlan.toString)
    // ZERO files planned — the answer came from the manifest alone
    assert(plannedFiles(q).isEmpty)
    val r = q.collect().head
    assert(r.getLong(0) == 4L && r.getLong(1) == 1L && r.getLong(2) == 9L)
    assert(r.getAs[java.time.LocalDateTime](3) ==
      java.time.LocalDateTime.of(2023, 12, 31, 23, 59))
    assert(r.getAs[java.time.LocalDateTime](4) ==
      java.time.LocalDateTime.of(2024, 6, 15, 5, 0))
    assert(r.getLong(5) == 2L)
    // the SQL door takes the same metadata path
    withCatalog("gt17s")
    val abs = new java.io.File(dir).getAbsolutePath
    val sq = spark.sql(s"SELECT COUNT(*), MIN(key) FROM gt17s.`$abs`")
    assert(metaAggEngaged(sq), sq.queryExecution.executedPlan.toString)
    assert(sq.collect().head.getLong(0) == 4L)
  }

  test("meta-agg: every disqualifier falls back to the distributed aggregate — filters, group-by, distinct, DV, missing stats, undecodable column") {
    import spark.implicits._
    val dir = metaAggFixture("metaagggate",
      Seq("key" -> "id", "odate" -> "us"))
    def t() = spark.read.format("graft").load(dir)
    // a data-column filter (only partition-dir-decidable filters keep
    // the metadata answer exact)
    assert(!metaAggEngaged(t().where(col("key") > 1)
      .agg(count(lit(1)))))
    // group-by
    assert(!metaAggEngaged(t().groupBy("ck").agg(count(lit(1)))))
    // distinct count
    assert(!metaAggEngaged(t().agg(countDistinct(col("key")))))
    // COUNT(col)/MIN on a column OUTSIDE the stats line
    assert(!metaAggEngaged(t().agg(count(col("ck")))))
    assert(!metaAggEngaged(t().agg(min(col("ck")))))
    // SUM is not derivable from [min,max,rows,nulls]
    assert(!metaAggEngaged(t().agg(sum(col("key")))))
    // values still correct through the fallback
    assert(t().agg(count(lit(1))).collect().head.getLong(0) == 4L)
    // an encoding that does not ROUND-TRIP the column's type (id on a
    // decimal column commits — the ordinal cast truncates): the null
    // counts describe the ordinal, not the column, so COUNT(col) must
    // refuse the metadata answer and fall back to the true count (a
    // lossy id-on-string declaration fails loudly at commit under ANSI,
    // but the read side must not TRUST the declaration's type either)
    val lossy = freshDir("metaagglossy")
    GraftTable.commitNextIsolated(spark, lossy,
      Seq((1L, BigDecimal("1.50")), (2L, BigDecimal("7.25")))
        .toDF("key", "s"),
      "non-round-tripping declaration",
      statsEnc = Seq("key" -> "id", "s" -> "id"))
    val lq = spark.read.format("graft").load(lossy)
      .agg(count(col("s")).as("n"))
    assert(!metaAggEngaged(lq), lq.queryExecution.executedPlan.toString)
    assert(lq.collect().head.getLong(0) == 2L,
      "COUNT over a non-round-tripping column must serve the TRUE count")
    // no stats line at all
    val plain = freshDir("metaaggplain")
    GraftTable.commitNextIsolated(spark, plain,
      Seq(1L, 2L).toDF("key"), "no stats")
    assert(!metaAggEngaged(spark.read.format("graft").load(plain)
      .agg(count(lit(1)))))
    // a merge-on-read head carries no stats line by construction (the
    // dv-vs-index refusal) — the aggregate falls back AND serves the
    // post-delete truth, never the raw file counts
    val mor = freshDir("metaaggdv")
    GraftTable.commitNextIsolated(spark, mor,
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("key", "s"), "base")
    GraftTable.commitDeleteVector(spark, mor,
      Seq(2L).toDF("key"), Seq("key"), "dv delete")
    val dq = spark.read.format("graft").load(mor)
      .agg(count(lit(1)).as("n"), max(col("key")).as("mx"))
    assert(!metaAggEngaged(dq))
    val dr = dq.collect().head
    assert(dr.getLong(0) == 2L && dr.getLong(1) == 3L)
  }

  // ---- 10. storage-partitioned joins ------------------------------------

  /** Shuffle exchanges anywhere in the executed-plan string (the query
    * must be collected first so AQE's final plan is materialized; the
    * string carries initial+final, so 0 means neither planned one). */
  private def shuffles(df: org.apache.spark.sql.DataFrame): Int = {
    df.collect()
    "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).size
  }

  private def spjFixtures(tag: String): (String, String) = {
    import spark.implicits._
    val a = freshDir(s"${tag}_a")
    val b = freshDir(s"${tag}_b")
    val facts = Seq((1L, "x", 10L), (2L, "y", 20L), (3L, "x", 30L),
      (4L, "z", 40L), (5L, "y", 50L)).toDF("k", "p", "v")
    GraftTable.commitNextIsolated(spark, a, facts, "facts",
      partitionBy = Seq("p"))
    GraftTable.commitNextIsolated(spark, b,
      Seq(("x", 100L), ("y", 200L), ("z", 300L)).toDF("p", "w"),
      "dim", partitionBy = Seq("p"))
    (a, b)
  }

  test("spj: co-partitioned join and partition-key groupBy run with ZERO shuffles; conf off falls back; values identical") {
    val (a, b) = spjFixtures("spj")
    // no final orderBy: a range-partitioned sort would add its own
    // legitimate exchange — the claim under test is join+groupBy
    def q() = {
      val fa = spark.read.format("graft").load(a)
      val fb = spark.read.format("graft").load(b)
      fa.join(fb, "p").groupBy("p")
        .agg(sum(col("v") + col("w")).as("t"))
    }
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val off = q()
      assert(shuffles(off) > 0, "expected the ordinary shuffled plan")
      val offRows = off.collect().map(r =>
        (r.getString(0), r.getLong(1))).toSeq.sorted
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      val on = q()
      assert(shuffles(on) == 0,
        on.queryExecution.executedPlan.toString)
      assert(on.collect().map(r =>
        (r.getString(0), r.getLong(1))).toSeq.sorted == offRows)
      // groupBy over the partition column alone: also exchange-free
      val g = spark.read.format("graft").load(a)
        .groupBy("p").agg(count(lit(1)).as("n"))
      assert(shuffles(g) == 0, g.queryExecution.executedPlan.toString)
      assert(g.collect().map(r => (r.getString(0), r.getLong(1)))
        .toSeq.sorted == Seq(("x", 2L), ("y", 2L), ("z", 1L)))
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("spj: a partition filter composes — pruned key groups, still correct") {
    val (a, b) = spjFixtures("spjf")
    try {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      val fa = spark.read.format("graft").load(a).where(col("p") =!= "z")
      val fb = spark.read.format("graft").load(b).where(col("p") =!= "z")
      val j = fa.join(fb, "p").select(col("k"), col("w"))
      val got = j.collect().map(r => (r.getLong(0), r.getLong(1)))
        .toSeq.sorted
      assert(got == Seq((1L, 100L), (2L, 200L), (3L, 100L), (5L, 200L)))
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
    }
  }

  test("meta-agg: GROUP BY a partition column (and a subset of several) serves per-dir rows; non-partition group-by falls back") {
    import spark.implicits._
    val dir = freshDir("metagrp")
    val df = Seq((1L, "x", "u"), (2L, "x", "v"), (5L, "y", "u"),
      (9L, "y", "u"), (4L, "y", "v")).toDF("k", "p", "q")
    GraftTable.commitNextIsolated(spark, dir, df, "two-level partby",
      partitionBy = Seq("p", "q"), statsEnc = Seq("k" -> "id"))
    def t() = spark.read.format("graft").load(dir)
    // full partition-column group-by: one metadata row per dir
    val g2 = t().groupBy("p", "q")
      .agg(count(lit(1)).as("n"), max("k").as("mx"))
    assert(metaAggEngaged(g2), g2.queryExecution.executedPlan.toString)
    assert(plannedFiles(g2).isEmpty)
    assert(g2.collect().map(r => (r.getString(0), r.getString(1),
      r.getLong(2), r.getLong(3))).toSeq.sorted ==
      Seq(("x", "u", 1L, 1L), ("x", "v", 1L, 2L),
        ("y", "u", 2L, 9L), ("y", "v", 1L, 4L)))
    // a SUBSET of the partition columns: groups merge across dirs
    val g1 = t().groupBy("p").agg(count(lit(1)).as("n"), min("k").as("mn"))
    assert(metaAggEngaged(g1), g1.queryExecution.executedPlan.toString)
    assert(g1.collect().map(r => (r.getString(0), r.getLong(1),
      r.getLong(2))).toSeq.sorted == Seq(("x", 2L, 1L), ("y", 3L, 4L)))
    // grouping by a NON-partition column falls back (per-file stats
    // cannot split a file across groups) — values still correct
    val gq = t().groupBy("k").agg(count(lit(1)).as("n"))
    assert(!metaAggEngaged(gq))
    assert(gq.collect().length == 5)
  }

  test("meta-agg: partition-column filters stay metadata-exact — equality, IN, null tests; range and data filters fall back") {
    import spark.implicits._
    val dir = freshDir("metafilt")
    val df = Seq((1L, Some("x")), (2L, Some("x")), (5L, Some("y")),
      (9L, None: Option[String])).toDF("k", "p")
    GraftTable.commitNextIsolated(spark, dir, df, "filtered meta-agg",
      partitionBy = Seq("p"), statsEnc = Seq("k" -> "id"))
    def t() = spark.read.format("graft").load(dir)
    val eq = t().where(col("p") === "x")
      .agg(count(lit(1)).as("n"), max("k").as("mx"))
    assert(metaAggEngaged(eq), eq.queryExecution.executedPlan.toString)
    assert(plannedFiles(eq).isEmpty)
    val er = eq.collect().head
    assert(er.getLong(0) == 2L && er.getLong(1) == 2L)
    val in = t().where(col("p").isin("x", "y")).agg(count(lit(1)).as("n"))
    assert(metaAggEngaged(in), in.queryExecution.executedPlan.toString)
    assert(in.collect().head.getLong(0) == 3L)
    val nn = t().where(col("p").isNull).agg(count(lit(1)).as("n"))
    assert(metaAggEngaged(nn), nn.queryExecution.executedPlan.toString)
    assert(nn.collect().head.getLong(0) == 1L)
    // filter + group-by compose
    val fg = t().where(col("p").isNotNull).groupBy("p")
      .agg(count(lit(1)).as("n"))
    assert(metaAggEngaged(fg), fg.queryExecution.executedPlan.toString)
    assert(fg.collect().map(r => (r.getString(0), r.getLong(1)))
      .toSeq.sorted == Seq(("x", 2L), ("y", 1L)))
    // a RANGE filter on the partition column is not dir-equality —
    // falls back, values still right
    val rg = t().where(col("p") > "w").agg(count(lit(1)).as("n"))
    assert(!metaAggEngaged(rg))
    assert(rg.collect().head.getLong(0) == 3L)
  }

  // ---- 11. bucket-transform SPJ ------------------------------------------

  /** Two co-bucketed (n=4) tables over disjoint-ish key sets. */
  private def bucketFixtures(tag: String): (String, String) = {
    import spark.implicits._
    val a = freshDir(s"${tag}_a")
    val b = freshDir(s"${tag}_b")
    def bucketed(df: org.apache.spark.sql.DataFrame, key: String) =
      df.withColumn("cb", pmod(col(key), lit(4L)).cast("int"))
    GraftTable.commitNextIsolated(spark, a,
      bucketed(Seq((1L, 10L), (2L, 20L), (5L, 50L), (6L, 60L), (11L, 110L))
        .toDF("k", "v"), "k"),
      "facts", partitionBy = Seq("cb"), bucketFn = Some((4, "k")))
    GraftTable.commitNextIsolated(spark, b,
      bucketed(Seq((1L, "a"), (5L, "b"), (6L, "c"), (7L, "d"))
        .toDF("ck", "s"), "ck"),
      "dim", partitionBy = Seq("cb"), bucketFn = Some((4, "ck")))
    (a, b)
  }

  test("bucket-spj: join on the RAW key runs with zero shuffles through the catalog door; values identical to the shuffled plan") {
    val (a, b) = bucketFixtures("bspj")
    withCatalog("gt17s")
    val (aa, ab) = (new java.io.File(a).getAbsolutePath,
      new java.io.File(b).getAbsolutePath)
    def q() = spark.sql(
      s"SELECT f.k, f.v, d.s FROM gt17s.`$aa` f " +
        s"JOIN gt17s.`$ab` d ON f.k = d.ck")
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      val off = q()
      assert(shuffles(off) > 0, "expected the ordinary shuffled plan")
      val offRows = off.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSeq.sorted
      assert(offRows == Seq((1L, 10L, "a"), (5L, 50L, "b"), (6L, 60L, "c")))
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      val on = q()
      assert(shuffles(on) == 0, on.queryExecution.executedPlan.toString)
      assert(on.collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
        .toSeq.sorted == offRows)
    } finally {
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "false")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
    }
  }

  test("bucket-spj: the bucket invariant is validated at commit; violations and bad declarations refuse") {
    import spark.implicits._
    val dir = freshDir("bktbad")
    // wrong bucket value on one row
    val bad = Seq((1L, 1), (2L, 2), (5L, 0)).toDF("k", "cb")
    val e = intercept[IllegalArgumentException] {
      GraftTable.commitNextIsolated(spark, dir, bad, "bad bucket",
        partitionBy = Seq("cb"), bucketFn = Some((4, "k")))
    }
    assert(e.getMessage.contains("bucket invariant"), e.getMessage)
    assert(GraftTable.versions(GraftTable.fsOf(spark, dir), dir).isEmpty)
    // a long bucket column refuses (the transform's result type is INT)
    val longB = Seq((1L, 1L)).toDF("k", "cb")
    val e2 = intercept[IllegalArgumentException] {
      GraftTable.commitNextIsolated(spark, dir, longB, "long bucket",
        partitionBy = Seq("cb"), bucketFn = Some((4, "k")))
    }
    assert(e2.getMessage.contains("must be INT"), e2.getMessage)
    // bucketFn without a partitionBy layout refuses
    val e3 = intercept[IllegalArgumentException] {
      GraftTable.commitNextIsolated(spark, dir,
        Seq((1L, 1)).toDF("k", "cb"), "no layout",
        bucketFn = Some((4, "k")))
    }
    assert(e3.getMessage.contains("partitions by exactly"), e3.getMessage)
  }

  test("bucket-spj: the declaration survives compaction, ALTER ADD, validated DSv2 appends and CoW DML; key-column rename/drop refuses") {
    import spark.implicits._
    val (a, _) = bucketFixtures("bktdoors")
    def hdrs() = {
      val fs = GraftTable.fsOf(spark, a)
      val cur = GraftTable.currentVersion(fs, a).get
      GraftTable.headersOf(fs, a, cur)
    }
    assert(hdrs().contains("bucketfn"))
    // compaction rewrites the same rows — declaration carries, validated
    GraftTable.compactChain(spark, a)
    assert(hdrs().contains("bucketfn"), "compaction dropped bucketfn")
    // metadata-only ADD COLUMN carries
    GraftTable.commitAddColumns(spark, a, Seq(("note", "string")))
    assert(hdrs().contains("bucketfn"), "ALTER ADD dropped bucketfn")
    // the DSv2 append door validates the STAGED rows' invariant and
    // carries the declaration; a violating batch refuses with no
    // version minted
    val abs = new java.io.File(a).getAbsolutePath
    val nvBefore = GraftTable.versions(GraftTable.fsOf(spark, a), a).size
    val bad = intercept[Exception] {
      Seq((9L, 90L, "x", 3)).toDF("k", "v", "note", "cb")
        .write.format("graft").mode("append").save(abs)
    }
    assert(bad.getMessage.contains("bucket invariant"), bad.getMessage)
    assert(GraftTable.versions(GraftTable.fsOf(spark, a), a).size
      == nvBefore, "a refused append minted a version")
    Seq((9L, 90L, "x", 1)).toDF("k", "v", "note", "cb")
      .write.format("graft").mode("append").save(abs)
    assert(hdrs().contains("bucketfn"), "DSv2 append dropped bucketfn")
    assert(GraftTable.read(spark, a).count() == 6L)
    // renaming or dropping the declared key column refuses
    val e2 = intercept[IllegalArgumentException] {
      GraftTable.commitRenameColumns(spark, a, Seq(("k", "kk")))
    }
    assert(e2.getMessage.contains("bucket key"), e2.getMessage)
    val e3 = intercept[IllegalArgumentException] {
      GraftTable.commitDropColumns(spark, a, Seq("k"))
    }
    assert(e3.getMessage.contains("bucket key"), e3.getMessage)
    // an unrelated column still renames, and the declaration carries
    GraftTable.commitRenameColumns(spark, a, Seq(("v", "val")))
    assert(hdrs().contains("bucketfn"))
    // SQL DELETE takes the CoW arm and re-validates the carried
    // declaration — the layout and header survive point DML
    withCatalog("gt17s")
    spark.sql(s"DELETE FROM gt17s.`${new java.io.File(a).getAbsolutePath}` " +
      "WHERE k = 11")
    assert(hdrs().contains("bucketfn"), "SQL DELETE dropped bucketfn")
    assert(GraftTable.read(spark, a).count() == 5L)
  }

  test("meta-agg: all-null stats column serves NULL extremes; empty-after-sentinel files are skipped") {
    import spark.implicits._
    val dir = freshDir("metaaggnull")
    val df = Seq((1L, None: Option[Long]), (2L, None))
      .toDF("key", "v")
      .repartition(1)
    GraftTable.commitNextIsolated(spark, dir, df, "all-null stats col",
      statsEnc = Seq("key" -> "id", "v" -> "id"))
    val q = spark.read.format("graft").load(dir).agg(
      min(col("v")).as("mn"), max(col("v")).as("mx"),
      count(col("v")).as("n"))
    assert(metaAggEngaged(q), q.queryExecution.executedPlan.toString)
    val r = q.collect().head
    assert(r.isNullAt(0) && r.isNullAt(1) && r.getLong(2) == 0L)
  }
}
