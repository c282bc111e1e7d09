package graft

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import graft.sources.GraftTable

/** The positional delete door's cost: the skip reconciliation reads the
  * per-file tombstone counts of the new and the previous sidecar from
  * their `__file=` footers, so a delete runs only the jobs of its
  * sidecar write — never an aggregation over the cumulative sidecar. */
class PositionalDeleteSpec extends SparkSpec {

  test("positional delete runs only its sidecar write's 2 jobs, and the footer counts mark fully deleted files") {
    val s = spark
    import s.implicits._
    val dir = "target/tmp/pdel_jobs"
    val fs = GraftTable.fsOf(spark, dir)
    fs.delete(new Path(dir), true)
    GraftTable.commitNextIsolated(spark, dir,
      (1L to 4L).map(k => (k, "lo")).toDF("k", "g").coalesce(1), "lo")
    GraftTable.commitAppend(spark, dir,
      (5L to 12L).map(k => (k, "hi")).toDF("k", "g").coalesce(1), "hi")
    // first delete: no previous sidecar
    assert(jobsAndStages(GraftTable.commitPositionalDelete(spark, dir,
      col("k") === 7L, "one hi row"))._1 == 2)
    // cumulative delete: the previous sidecar unions in; the lo file
    // dies whole and must enter _skips
    assert(jobsAndStages(GraftTable.commitPositionalDelete(spark, dir,
      col("g") === "lo" || col("k") === 8L, "lo file and one hi row"))._1 == 2)
    val v = GraftTable.readVersion(spark, dir, 3)
    assert(v.inputFiles.length == 1,
      s"the fully deleted lo file must be skipped, got ${v.inputFiles.toSeq}")
    assert(v.select("k").collect().map(_.getLong(0)).sorted.toSeq ==
      (5L to 12L).filterNot(Set(7L, 8L)))
  }
}
