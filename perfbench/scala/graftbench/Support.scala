package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.scheduler._
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.QueryExecutionListener

/** Minimal JSON in and out: the plan file is parsed into Scala maps and
  * vectors; records are written one object per line. */
object Json {
  private val mapper = new ObjectMapper()

  def read(path: String): Map[String, Any] =
    toScala(mapper.readValue(new java.io.File(path), classOf[Object]))
      .asInstanceOf[Map[String, Any]]

  private def toScala(v: Any): Any = v match {
    case m: java.util.Map[_, _] =>
      m.asScala.map { case (k, x) => k.toString -> toScala(x) }.toMap
    case l: java.util.List[_] => l.asScala.map(toScala).toVector
    case x => x
  }

  def str(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => str(x)
    case s: String => mapper.writeValueAsString(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ":" + str(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(str).mkString("[", ",", "]")
    case x => str(x.toString)
  }
}

/** Order-sensitive digest of a collected result, in a canonical text form
  * that `perfbench/canon.py` reproduces from DuckDB rows: columns sorted
  * by name; integral numbers as integers and other doubles by their bits
  * (the exact equality `tools/check.py` applies, decimals compared as
  * doubles); timestamps as epoch microseconds, dates as epoch days. */
object Canon {
  private def num(d: Double): String =
    if (d.isNaN) "NaN"
    else if (d == math.rint(d) && math.abs(d) < 1e15) "i" + d.toLong
    else "f" + java.lang.Long.toHexString(java.lang.Double.doubleToLongBits(d))

  def tok(v: Any): String = v match {
    case null => "N"
    case b: Boolean => if (b) "b1" else "b0"
    case n: Byte => "i" + n
    case n: Short => "i" + n
    case n: Int => "i" + n
    case n: Long => "i" + n
    case f: Float => num(f.toDouble)
    case d: Double => num(d)
    case d: java.math.BigDecimal => num(d.doubleValue)
    case d: scala.math.BigDecimal => num(d.toDouble)
    case s: String => "s" + s
    case t: java.sql.Timestamp =>
      "t" + (Math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000)
    case t: java.time.Instant => "t" + (t.getEpochSecond * 1000000L + t.getNano / 1000)
    case t: java.time.LocalDateTime =>
      "t" + (t.toEpochSecond(java.time.ZoneOffset.UTC) * 1000000L + t.getNano / 1000)
    case d: java.sql.Date => "d" + d.toLocalDate.toEpochDay
    case d: java.time.LocalDate => "d" + d.toEpochDay
    case a: Array[Byte] => "x" + a.map(b => f"$b%02x").mkString
    case r: Row => r.toSeq.map(tok).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => tok(k) + ":" + tok(x) }.sorted.mkString("m{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(tok).mkString("[", ",", "]")
    case x => "?" + x
  }

  def digest(schema: StructType, rows: Array[Row]): String = {
    val names = schema.fieldNames
    val order = names.indices.sortBy(names(_))
    val md = MessageDigest.getInstance("SHA-256")
    md.update(order.map(names(_)).mkString(",").getBytes(UTF_8))
    md.update('\n'.toByte)
    rows.foreach { r =>
      md.update(order.map(i => tok(r.get(i))).mkString("\u0001").getBytes(UTF_8))
      md.update('\n'.toByte)
    }
    md.digest().map(b => f"$b%02x").mkString
  }
}

/** Per-operation counters the tracer accumulates from listener events. */
final class OpAcc {
  var jobs = 0; var stages = 0; var tasks = 0
  var taskMs = 0L; var cpuNs = 0L; var schedMs = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L; var spill = 0L
  var inputBytes = 0L; var inputRows = 0L; var outputBytes = 0L
  val jobSpans = mutable.ArrayBuffer[(Int, Long, Long)]()
}

/** One planned query execution: when its analysis started and how long
  * each planning phase took (from `QueryPlanningTracker`). */
final case class QeRec(startMs: Long, analysisMs: Long, optimizeMs: Long,
    physicalMs: Long)

/** The traced run's listeners. Jobs are attributed to the operation named
  * by the `graftbench.op` local property the runner sets around each call;
  * planned query executions are attributed afterwards by time, because the
  * client is one closed-loop thread and operation spans never overlap. */
final class Tracer extends SparkListener with QueryExecutionListener {
  private val stageOp = mutable.Map[Int, String]()
  private val jobStart = mutable.Map[Int, (String, Long)]()
  val acc = mutable.Map[String, OpAcc]()
  val qes = mutable.ArrayBuffer[QeRec]()

  private def a(op: String): OpAcc = acc.getOrElseUpdate(op, new OpAcc)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.OpProp)))
      .foreach { op =>
        jobStart(e.jobId) = (op, e.time)
        e.stageIds.foreach(s => stageOp(s) = op)
        a(op).jobs += 1
      }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (op, t0) =>
      a(op).jobSpans += ((e.jobId, t0, e.time))
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stageOp.get(e.stageInfo.stageId).foreach(op => a(op).stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    stageOp.get(e.stageId).foreach { op =>
      val o = a(op)
      o.tasks += 1
      val m = e.taskMetrics
      if (m != null) {
        o.taskMs += m.executorRunTime
        o.cpuNs += m.executorCpuTime
        o.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        o.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        o.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        o.inputBytes += m.inputMetrics.bytesRead
        o.inputRows += m.inputMetrics.recordsRead
        o.outputBytes += m.outputMetrics.bytesWritten
        val i = e.taskInfo
        o.schedMs += math.max(0L, i.duration - m.executorRunTime -
          m.executorDeserializeTime - m.resultSerializationTime)
      }
    }
  }

  private def record(qe: QueryExecution): Unit = synchronized {
    val ph = qe.tracker.phases
    if (ph.nonEmpty) {
      def d(n: String) = ph.get(n).map(_.durationMs).getOrElse(0L)
      qes += QeRec(ph.values.map(_.startTimeMs).min, d("analysis"),
        d("optimization"), d("planning"))
    }
  }

  override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = record(qe)
  override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = record(qe)
}

object Tracer { val OpProp = "graftbench.op" }
