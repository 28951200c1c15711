package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.json4s._

import graft.model.PipelineSpec
import graft.operators.Translate
import graft.streaming.PipelineManager

/**
 * `mirror`: the Kafka-mirror shape — parquet connector →
 * Translate.mirror → builtin parquet transport (epochAppend) on a
 * ProcessingTime(0) trigger, driven through [[PipelineManager]].
 *
 * Outage cycle: stop, publish a fixed pre-staged backlog, restart
 * from the checkpoint, drain. One untimed outage warms the drain path
 * first. Steady phase: the generator drops one file every 100 ms at
 * 10k events/s (open loop), for 2 s untimed and then 1.5 x
 * `--seconds` measured; events are stamped with their due time, so
 * `run.py` reads latency off the destination's commit markers. Then
 * [[Cycles]] measured outages. The traced window covers exactly the
 * measured steady phase and the measured outages.
 */
final class Mirror(spark: SparkSession, gen: Gen, trace: Trace, out: Out,
    work: File, seconds: Double, catchupOnly: Boolean) {
  import Util._

  private val Name = "mirror"
  private val Rate = 10000
  private val FileMs = 100
  private val WarmS = 2.0
  private val Backlog = 150000
  private val BacklogFiles = 15
  // flow control: a trigger takes at most this many files, so a
  // backlog drains over several micro-batches (steady triggers see ~5)
  private val MaxFilesPerTrigger = 10
  private val Cycles = 5
  private val SetupReps = 3

  private val transform: DataFrame => DataFrame =
    df => Translate.mirror(df, "%s", "mirror.")
  private val trigger = Trigger.ProcessingTime(0L)
  private val ns = PipelineManager.namespaceOf(Name)

  private final class Rig(val root: File, val pm: PipelineManager,
      val src: String, val dest: String, var q: StreamingQuery)

  private def markerDir(dest: String) = new File(path(new File(dest), "_graft_commits", ns))

  /** Rows the current query run has read so far. */
  private def rowsRead(q: StreamingQuery): Long = q.recentProgress.map(_.numInputRows).sum

  private def manifest(): (Long, BigInt) = {
    val m = gen("cmd" -> str("manifest"))
    val JInt(n) = m \ "events"
    val JString(h) = m \ "hash"
    (n.toLong, BigInt(h))
  }

  private def setupOnce(i: Int): (Rig, Double) = {
    val root = new File(work, s"mirror/s$i")
    deleteTree(root)
    val src = path(root, "src")
    val dest = path(root, "dest")
    gen("cmd" -> str("drop"), "dir" -> str(src), "events" -> num(2000))
    val t0 = System.nanoTime()
    val pm = new PipelineManager(spark, path(root, "ckpt"))
    pm.create(PipelineSpec(Name, "parquet", "parquet", src,
      sourcePartitions = 16, destinationConnection = dest,
      metadata = Map("maxFilesPerTrigger" -> MaxFilesPerTrigger.toString)))
    trace.startRequested(Name)
    val q = pm.start(Name, transform, trigger)
    waitFor("first mirror commit", 120000)(new File(markerDir(dest), "0").exists)
    (new Rig(root, pm, src, dest, q), ms(t0))
  }

  /** Stop, publish backlog `tag`, restart, drain; returns (restart
    * wall ms, last epoch carrying backlog rows, backlog events). */
  private def outage(rig: Rig, tag: String, events: Long): (Double, Long) = {
    trace.span("mirror.stop")(rig.pm.stop(Name))
    gen("cmd" -> str("publish"), "tag" -> str(tag), "dir" -> str(rig.src))
    val tRestart = now()
    trace.startRequested(Name)
    rig.q = trace.span("mirror.restart")(rig.pm.start(Name, transform, trigger))
    waitFor(s"backlog $tag drained", 150000)(rowsRead(rig.q) >= events)
    val last = rig.q.recentProgress.filter(_.numInputRows > 0).map(_.batchId).max
    (tRestart, last)
  }

  private def stage(tag: String, root: File): Long = {
    val r = gen("cmd" -> str("stage"), "tag" -> str(tag),
      "stage" -> str(path(root, "backlog", tag)), "events" -> num(Backlog),
      "files" -> num(BacklogFiles))
    val JInt(n) = r \ "events"
    n.toLong
  }

  def run(): Unit = {
    var before: (Long, BigInt) = (0L, BigInt(0))
    // the catch-up-only pass reports no set-up time
    val reps = if (catchupOnly) 1 else SetupReps
    val rig = (0 until reps).map { i =>
      if (i == reps - 1) before = manifest()
      val (r, t) = setupOnce(i)
      out.add("setup_s", t / 1000.0)
      if (i < reps - 1) r.pm.close()
      r
    }.last
    out.phase("setup")
    val cycles = if (catchupOnly) 1 else Cycles
    val sizes = (0 to cycles).map(c => stage(s"b$c", rig.root))
    out.phase("stage-backlogs")

    // outage 0 warms the drain path (the JVM's first drain runs cold)
    outage(rig, "b0", sizes.head)
    out.phase("warm-outage")
    if (!catchupOnly) {
      // staged backlogs are counted by the generator when staged, so
      // from here the manifest grows by the steady events only
      val staged = manifest()._1
      def steady(s: Double): (Double, Double, Double) = {
        val st = gen("cmd" -> str("steady"), "dir" -> str(rig.src),
          "rate" -> num(Rate), "file_ms" -> num(FileMs), "seconds" -> JDouble(s))
        val JDouble(start) = st \ "start_ms"
        val JDouble(end) = st \ "end_ms"
        val JDouble(late) = st \ "late_max_ms"
        (start, end, late)
      }
      val (_, _, warmLate) = steady(WarmS)
      trace.begin()
      val (start, end, late) = steady(math.max(2.0, 1.5 * seconds))
      out.set("steady_start_ms", start)
      out.set("steady_end_ms", end)
      out.set("file_ms", FileMs.toDouble)
      out.set("layer:gen.late_max_ms", math.max(warmLate, late))
      // the query running since outage 0 has read that backlog and the
      // steady events
      waitFor("steady phase drained", 120000)(
        rowsRead(rig.q) >= sizes.head + manifest()._1 - staged)
    } else trace.begin()
    out.phase("steady")
    sizes.zipWithIndex.drop(1).foreach { case (n, c) =>
      val (tRestart, last) = outage(rig, s"b$c", n)
      out.add("restart_ms", tRestart)
      out.add("drain_last_epoch", last.toDouble)
      out.add("backlog_events", n.toDouble)
    }
    out.phase("outages")
    trace.end(out, units = 0)
    rig.pm.stop(Name)
    rig.pm.close()
    val after = manifest()
    out.set("layer:gen.events", (after._1 - before._1).toDouble)
    out.set("dest", rig.dest)
    out.set("ns", ns)
    out.set("expected_events", (after._1 - before._1).toDouble)
    out.set("expected_hash", ((after._2 - before._2).mod(BigInt(2).pow(64))).toString)
  }
}
