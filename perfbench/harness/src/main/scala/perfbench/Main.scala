package perfbench

import java.io.{BufferedReader, File, InputStreamReader, PrintWriter}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/**
 * Engine side of the datastream benchmark: runs ONE workload against
 * the engine's public entry points and writes what it measured (raw
 * samples, phase times, check outcomes) as JSON for `run.py`, which
 * turns them into metrics.
 *
 *   --workload mirror|lifecycle|index_serve  --seed N  --seconds N
 *   --trace 0|1  --cores N  --work DIR  --out FILE  --python EXE  --gen gen.py
 *   [--catchup-only]   (mirror: one warm backlog drain, nothing else)
 */
object Main {
  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val cores = opts("cores").toInt
    val work = new File(opts("work")).getAbsoluteFile
    work.mkdirs()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      // mirror counts the rows a query has read from its recent
      // progress: keep every trigger of a run, however short
      .config("spark.sql.streaming.numRecentProgressUpdates", "10000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").toString)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val out = new Out
    val trace = new Trace(spark, opts("trace") == "1")
    val gen = new Gen(Seq(opts("python"), opts("gen"), seed.toString))
    out.phase("start")
    try {
      workload match {
        case "mirror" =>
          new Mirror(spark, gen, trace, out, work, seconds,
            catchupOnly = opts.get("catchup-only").contains("1")).run()
        case "lifecycle" => new Lifecycle(spark, gen, trace, out, work, seconds).run()
        case "index_serve" => new IndexServe(spark, gen, trace, out, work, seconds).run()
        case other => sys.error(s"unknown workload $other")
      }
    } catch {
      case e: Throwable =>
        out.check("no_exception", ok = false, s"${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    } finally {
      out.phase("end")
      gen.close()
      trace.finish(out)
      spark.stop()
    }
    out.write(new File(opts("out")))
  }
}

/** What one run hands back to `run.py`. */
final class Out {
  private val fields = mutable.LinkedHashMap.empty[String, JValue]
  private val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  private val checks = mutable.ArrayBuffer.empty[JValue]
  @volatile var attempted = 0L
  @volatile var failed = 0L

  def set(k: String, v: Double): Unit = synchronized { fields(k) = JDouble(v) }
  def set(k: String, v: String): Unit = synchronized { fields(k) = JString(v) }
  def set(k: String, v: JValue): Unit = synchronized { fields(k) = v }
  def add(k: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(k, mutable.ArrayBuffer.empty) += v
  }
  /** Mark the end of a named phase of the run (wall clock). */
  def phase(name: String): Unit = add("phase:" + name, Util.now())

  def values(k: String): Seq[Double] = synchronized {
    samples.get(k).map(_.toList).getOrElse(Nil)
  }
  def check(name: String, ok: Boolean, detail: String = ""): Unit = synchronized {
    checks += JObject("name" -> JString(name), "ok" -> JBool(ok),
      "detail" -> JString(detail))
  }
  def countOps(n: Long, bad: Long): Unit = synchronized {
    attempted += n; failed += bad
  }

  def write(f: File): Unit = synchronized {
    val j = JObject(fields.toList ++ List(
      "samples" -> JObject(samples.toList.map { case (k, v) =>
        k -> (JArray(v.toList.map(JDouble(_))): JValue) }),
      "checks" -> JArray(checks.toList),
      "attempted" -> JLong(attempted),
      "failed" -> JLong(failed)))
    Files.write(f.toPath, JsonMethods.compact(JsonMethods.render(j))
      .getBytes(StandardCharsets.UTF_8))
  }
}

/** Client of the generator process (`gen.py`): one JSON command per
  * line on its stdin, one JSON reply per line on its stdout. */
final class Gen(cmd: Seq[String]) {
  private val proc = new ProcessBuilder(cmd: _*)
    .redirectError(ProcessBuilder.Redirect.INHERIT).start()
  private val in = new PrintWriter(proc.getOutputStream, true)
  private val reply = new BufferedReader(
    new InputStreamReader(proc.getInputStream, StandardCharsets.UTF_8))

  def apply(fields: (String, JValue)*): JValue = synchronized {
    in.println(JsonMethods.compact(JsonMethods.render(JObject(fields.toList))))
    val line = reply.readLine()
    require(line != null, s"generator exited (code ${proc.waitFor()})")
    val j = JsonMethods.parse(line)
    require(j \ "ok" == JBool(true), s"generator failed: $line")
    j
  }

  def close(): Unit = {
    if (proc.isAlive) try apply("cmd" -> JString("quit")) catch { case _: Throwable => () }
    in.close()
    if (!proc.waitFor(10, java.util.concurrent.TimeUnit.SECONDS)) {
      proc.destroyForcibly()
      proc.waitFor()
    }
  }
}

object Util {
  def now(): Double = System.currentTimeMillis().toDouble
  def ms(t0: Long): Double = (System.nanoTime() - t0) / 1e6

  def timed[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, ms(t0))
  }

  /** Poll `cond` every 5 ms until true or `timeoutMs` passes. */
  def waitFor(what: String, timeoutMs: Long)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(5)
    }
  }

  def deleteTree(f: File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(deleteTree))
    f.delete(): Unit
  }

  def path(f: File, parts: String*): String =
    Paths.get(f.toString, parts: _*).toString

  def str(s: String): JValue = JString(s)
  def num(n: Long): JValue = JLong(n)
}
