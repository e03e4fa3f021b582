package graftbench

import java.nio.file.{Files, Paths}

import scala.util.Random

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Runs one workload as a closed loop with a single client and writes
  * everything it recorded to `<work>/raw.json` for `perfbench/run.py`.
  *
  * {{{
  * graftbench.Main --workload lake_cdc --seed 1 --seconds 20 --trace 0 \
  *   --work <dir> [--scale 1.0]
  * }}}
  *
  * Window 0 is measured with tracing off.  With `--trace 1` two more
  * windows follow on the same request stream: window 1 with the Spark
  * listener and the query-execution listener registered, window 2
  * without them again.  Window 1 against the mean of windows 0 and 2
  * gives the tracing overhead, without crediting tracing with the JIT
  * warming that goes on between windows.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val name = args("workload")
    require(Workload.names.contains(name), s"unknown workload $name")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = Paths.get(args("work")).toAbsolutePath
    val scale = args.get("scale").map(_.toDouble).getOrElse(1.0)
    // two cores: on a shared 4-vCPU host, four busy Spark threads plus
    // the driver, JIT and GC drew a hypervisor steal of up to a core and
    // run-to-run spreads wider than the metrics' bounds
    val cores = math.min(2, Runtime.getRuntime.availableProcessors)
    Files.createDirectories(work)

    val spark = Session.start(cores, work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val wl = Workload(name, spark, work, scale, seed, traced)
    wl.prepare()
    // set-up runs twice so its time is a median; a traced run needs a
    // fresh state for each of its three windows plus the warm-up's
    val buildS = (0 until (if (traced) 4 else 2)).map { rep =>
      val b0 = System.nanoTime()
      wl.build(rep)
      (System.nanoTime() - b0) / 1e9
    }
    val tracer = new Tracer(spark.sparkContext)
    tracer.window = -1
    val w0 = System.nanoTime()
    wl.warm(tracer)
    val warmS = (System.nanoTime() - w0) / 1e9

    def measure(window: Int, traced: Boolean = false): Map[String, Any] = {
      wl.use(window)
      tracer.window = window
      val rng = new Random(seed)
      val load = new Telemetry.Window
      val end = tracer.nowMs + seconds * 1000
      tracer.span(s"window$window") {
        while (tracer.nowMs < end) wl.step(tracer, rng)
      }
      Map("window" -> window, "traced" -> traced, "load" -> load.close(),
        "facts" -> wl.facts())
    }

    val untraced = measure(0)
    val rssUntraced = Telemetry.peakRssMb()
    val pools = Telemetry.heapPools()
    val liveUntraced = Telemetry.liveHeapMb()
    val (tracedWindows, engine) =
      if (!traced) (Nil, Map.empty[String, Any])
      else {
        val rec = new Recorder
        val phases = new Phases
        spark.sparkContext.addSparkListener(rec)
        spark.listenerManager.register(phases)
        val w = measure(1, traced = true)
        // a fenced job: once its end reaches the recorder, every earlier
        // event has reached both listeners (they share the bus queue)
        spark.sparkContext.setJobGroup("fence", "fence", interruptOnCancel = false)
        spark.range(0, 1, 1, 1).collect()
        spark.sparkContext.clearJobGroup()
        val deadline = System.nanoTime() + 30000000000L
        while (!rec.jobEnded("fence") && System.nanoTime() < deadline) Thread.sleep(20)
        spark.listenerManager.unregister(phases)
        spark.sparkContext.removeSparkListener(rec)
        (Seq(w, measure(2)), rec.dump() ++ Map("phases" -> phases.dump()))
      }

    val raw = Map(
      "meta" -> Map(
        "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
        "scale" -> scale, "cores" -> cores, "nproc" -> Runtime.getRuntime.availableProcessors,
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "java_vm" -> System.getProperty("java.vm.name"),
        "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "settings" -> Session.settings(cores, work).toMap),
      "setup" -> Map("session_s" -> sessionS, "build_s" -> buildS, "warm_s" -> warmS),
      "windows" -> (untraced +: tracedWindows),
      "live_heap_mb" -> liveUntraced,
      "peak_rss_mb" -> rssUntraced,
      "heap_pools" -> pools,
      "calls" -> tracer.calls.map(c => Map(
        "op" -> c.op, "kind" -> c.kind, "cls" -> c.cls, "window" -> c.window,
        "start_ms" -> c.startMs, "end_ms" -> c.endMs, "cpu_ms" -> c.cpuMs, "rows" -> c.rows, "ok" -> c.ok,
        "note" -> c.note, "extra" -> c.extra)),
      "spans" -> tracer.spans.map(s => Map(
        "id" -> s.id, "parent" -> s.parent, "op" -> s.op, "name" -> s.name,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs)),
      "engine" -> engine,
      "oracle" -> wl.oracleChecks())
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(work.resolve("raw.json"), json.writeValueAsBytes(raw))
    spark.stop()
  }
}
