package perfbench

import java.io.File
import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import java.time.Duration
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger, AtomicLong}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

import graft.model.PipelineSpec
import graft.rest.ManagementServer
import graft.streaming.PipelineManager

/**
 * `lifecycle`: a closed loop of [[Clients]] HTTP clients against
 * [[ManagementServer]] on loopback. Each client cycles create →
 * start?await → get → pause → (drop a file) → resume?await → stop →
 * delete on a small parquet→parquet pipeline, beside a standing fleet
 * of [[Fleet]] idle specs, while a ticker runs the manager's
 * reconcile and request-queue ticks every [[TickMs]].
 */
final class Lifecycle(spark: SparkSession, gen: Gen, trace: Trace, out: Out,
    work: File, seconds: Double) {
  import Util._

  private val Fleet = 100
  private val Clients = 2
  private val Rows = 50
  private val TickMs = 250L
  private val WarmCycles = 1
  // a cycle takes about two seconds per client: the loop runs 2.5 x
  // `--seconds` so its medians rest on more than a handful of cycles
  private val LoopScale = 2.5
  private val SetupReps = 3

  private final class Rig(val root: File, val pm: PipelineManager,
      val server: ManagementServer) {
    def close(): Unit = { server.stop(); pm.close() }
  }

  /** Set-up: a manager over the durable spec store holding the fleet
    * (it loads every spec), plus the REST server. */
  private def setupOnce(root: File): (Rig, Double) = {
    val t0 = System.nanoTime()
    val pm = new PipelineManager(spark, path(root, "ckpt"))
    val server = new ManagementServer(pm).start()
    (new Rig(root, pm, server), ms(t0))
  }

  def run(): Unit = {
    val root = new File(work, "lifecycle")
    deleteTree(root)
    locally {
      val pm = new PipelineManager(spark, path(root, "ckpt"))
      (0 until Fleet).foreach { j =>
        pm.create(PipelineSpec(f"fleet$j%04d", "parquet", "parquet",
          path(root, "fleet-src", j.toString),
          destinationConnection = path(root, "fleet-dest", j.toString)))
      }
      pm.close()
    }
    out.phase("fleet")
    val rig = (0 until SetupReps).map { i =>
      val (rig, t) = setupOnce(root)
      out.add("setup_s", t / 1000.0)
      if (i < SetupReps - 1) rig.close()
      rig
    }.last
    out.phase("setup")
    val maxCycles = (LoopScale * seconds * 10).toInt + 20 + Clients * WarmCycles
    val stage = path(rig.root, "stage")
    gen("cmd" -> str("lifecycle"), "stage" -> str(stage), "cycles" -> num(maxCycles),
      "rows" -> num(Rows))

    val http = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1)
      .connectTimeout(Duration.ofSeconds(30)).build()
    val base = s"http://127.0.0.1:${rig.server.boundPort}"

    /** One REST call; a non-2xx answer fails the op and the cycle. */
    def call(verb: String, method: String, url: String, body: String = ""): JValue =
      trace.span(s"rest.$verb") {
        val b = HttpRequest.newBuilder(URI.create(base + url))
          .timeout(Duration.ofSeconds(120))
        val req = method match {
          case "GET" => b.GET()
          case "DELETE" => b.DELETE()
          case m => b.method(m, HttpRequest.BodyPublishers.ofString(body))
        }
        val resp = http.send(req.build(), HttpResponse.BodyHandlers.ofString())
        val ok = resp.statusCode / 100 == 2
        out.countOps(1, if (ok) 0 else 1)
        if (!ok) throw new IllegalStateException(
          s"$method $url -> ${resp.statusCode}: ${resp.body}")
        JsonMethods.parse(resp.body)
      }

    def drop(cycle: Int, part: String): Unit = {
      val to = new File(path(rig.root, "src", f"c$cycle%05d", s"$part.parquet"))
      to.getParentFile.mkdirs()
      Files.move(new File(path(new File(stage), f"c$cycle%05d", s".$part.parquet")).toPath,
        to.toPath)
    }

    def cycle(i: Int, record: Boolean = true): Unit = {
      val name = f"lc$i%05d"
      val spec = JsonMethods.compact(JsonMethods.render(JObject(
        "name" -> str(name), "connector" -> str("parquet"),
        "transport" -> str("parquet"),
        "sourceConnection" -> str(path(rig.root, "src", f"c$i%05d")),
        "destinationConnection" -> str(path(rig.root, "dest", f"c$i%05d")))))
      drop(i, "a")
      val t0 = System.nanoTime()
      call("create", "POST", "/pipelines", spec)
      trace.startRequested(name)
      call("start", "POST", s"/pipelines/$name/start?await=true")
      if (record) out.add("provision_ms", ms(t0))
      val got = call("get", "GET", s"/pipelines/$name")
      require(got \ "status" == JString("Ready"), s"$name after start: $got")
      call("pause", "POST", s"/pipelines/$name/pause")
      drop(i, "b")
      val t1 = System.nanoTime()
      trace.startRequested(name)
      call("resume", "POST", s"/pipelines/$name/resume?await=true")
      if (record) out.add("resume_ms", ms(t1))
      call("stop", "POST", s"/pipelines/$name/stop")
      call("delete", "DELETE", s"/pipelines/$name")
      out.add(if (record) "cycles_done" else "warm_cycles_done", i.toDouble)
    }

    /** A cycle that fails (non-2xx, wrong status, a failed file move)
      * fails the run's checks; its destination is then not checked. */
    def checkedCycle(i: Int, record: Boolean): Boolean =
      try { cycle(i, record); true } catch {
        case e: Throwable =>
          out.check(s"cycle_$i", ok = false, String.valueOf(e.getMessage))
          false
      }

    val running = new AtomicBoolean(true)
    val ticks = new AtomicLong(0)
    val ticker = new Thread(() => {
      while (running.get) {
        val (_, r) = timed(rig.pm.reconcileSpecs())
        val (_, c) = timed {
          rig.pm.consumeLifecycleRequests()
          rig.pm.consumeReassignRequests()
        }
        out.add("layer:streaming.control.tick_reconcile_ms", r)
        out.add("layer:streaming.control.tick_consume_ms", c)
        ticks.incrementAndGet()
        Thread.sleep(TickMs)
      }
    }, "perfbench-ticker")
    ticker.setDaemon(true)

    // warm-up: untimed cycles on every client, side by side, so the
    // measured cycles do not pay the JVM's first query starts and compiles
    (0 until Clients).map { c =>
      val t = new Thread(() => (0 until WarmCycles).foreach(k =>
        checkedCycle(c * WarmCycles + k, record = false)), s"perfbench-warm-$c")
      t.start()
      t
    }.foreach(_.join())
    out.phase("warm-up")
    val next = new AtomicInteger(Clients * WarmCycles)
    val deadline = System.nanoTime() + (LoopScale * seconds * 1e9).toLong
    val (ops0, failed0) = (out.attempted, out.failed)
    trace.begin()
    ticker.start()
    // each client's completed cycles over its own loop time (start to
    // the end of its last cycle), so neither waits out the other's tail
    val clients = (0 until Clients).map { c =>
      val t = new Thread(() => {
        val t0 = System.nanoTime()
        var ok = 0
        var go = true
        while (go && System.nanoTime() < deadline) {
          val i = next.getAndIncrement()
          if (i >= maxCycles) go = false
          else if (checkedCycle(i, record = true)) ok += 1
        }
        out.add("client_cycles_per_s", ok / (ms(t0) / 1000.0))
      }, s"perfbench-client-$c")
      t.start()
      t
    }
    clients.foreach(_.join())
    out.phase("loop")
    def listed(): Seq[String] = {
      val JArray(all) = call("list", "GET", "/pipelines")
      all.collect { case o: JObject => (o \ "name").values.toString }
    }
    // A reconcile tick that read a spec file before a delete removed it
    // can put the deleted spec back into the manager's view; the
    // manager's sweep drops such an entry on its second tick after the
    // file is gone. The listing right after the loop may show such a
    // ghost (reported, not judged); the check runs once three more
    // ticks have passed: the one in flight, then the sweep's two.
    out.set("deleted_listed_at_loop_end",
      listed().count(n => !n.startsWith("fleet")).toDouble)
    val t0 = ticks.get
    waitFor("three reconcile ticks after the loop", 60000)(ticks.get >= t0 + 3)
    running.set(false)
    ticker.join()
    // deleted specs are gone from the listing; the fleet is intact (the
    // listings are traced, so they run before the window closes)
    (0 until 2).foreach { _ =>
      val names = listed()
      val ghosts = names.filterNot(_.startsWith("fleet"))
      out.check("list_has_only_fleet", names.size == Fleet && ghosts.isEmpty,
        s"${names.size} specs listed; not of the fleet: ${ghosts.mkString(",")}")
    }
    val done = out.values("cycles_done").size
    trace.end(out, units = done)
    out.set("cycles_per_s", out.values("client_cycles_per_s").sum)
    out.check("cycles_within_staged_inputs", next.get < maxCycles,
      s"${next.get} cycles started, $maxCycles staged")
    out.set("layer:gen.events", (maxCycles * 2 * Rows).toDouble)
    trace.spanSamples(out, Seq("create", "start", "get", "pause", "resume", "stop",
      "delete", "list").map(v => s"rest.$v" -> s"rest.${v}_ms"): _*)
    out.set("layer:rest.ops", (out.attempted - ops0).toDouble)
    out.set("layer:rest.failed_ops", (out.failed - failed0).toDouble)
    rig.close()
    out.set("dest_root", path(rig.root, "dest"))
    out.set("rows_per_file", Rows.toDouble)
  }
}
