package perfbench

import org.apache.spark.sql.SparkSession

/** Runs one workload for a fixed time and writes a JSON artifact:
  * set-up timings, the environment, every span, and run-level values.
  * Metrics are computed from the artifact by `perfbench/metrics.py`.
  *
  * Usage: Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *             --out <artifact.json>
  * Inputs and every file the run writes go under graft's scratch root
  * (`-Dgraft.scratch.dir`), so runs never share files with tests.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = graft.Scratch.dir
    val gens = 3
    val cpus = Runtime.getRuntime.availableProcessors.min(4)
    val loadBefore = loadavg()
    val cpuBefore = cpuTicks()

    // library session defaults plus deployment settings only: master,
    // shuffle width = cores, UTC, and the parquet timestamp reads
    val spark = graft.GraftExtensions.withSessionDefaults(SparkSession.builder())
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyMs = System.currentTimeMillis()

    val origin = System.nanoTime()
    val tracer = new Tracer(spark, traced, origin)
    // input generation repeated `gens` times into fresh directories: the
    // median is the generation share of set-up; the last copy is used
    val built = (1 to gens).map { g =>
      val t0 = System.nanoTime()
      val wl = make(workload, Ctx(spark, new Gen(spark, seed), tracer, s"$work/gen$g"))
      wl.generate()
      val ms = (System.nanoTime() - t0) / 1e6
      if (g < gens) Fs.rm(s"$work/gen$g")
      (ms, wl)
    }
    val wl = built.last._2
    val r0 = System.nanoTime()
    wl.references()
    val refMs = (System.nanoTime() - r0) / 1e6
    val w0 = System.nanoTime()
    tracer.span("warmup", -1)(_ => wl.warmup())
    val warmupMs = (System.nanoTime() - w0) / 1e6
    val warmSpans = tracer.spans.length

    val rot = wl.rotation
    val m0 = System.nanoTime()
    val measureStartMs = System.currentTimeMillis()
    def elapsedS = (System.nanoTime() - m0) / 1e9
    var i = 0
    var aborted = 0
    Mem.reset()
    // whole rotations only: the first always, each next one if the mean
    // rotation so far still ends within --seconds and input is left
    def another = i == 0 || elapsedS * (i / rot + 1) / (i / rot) <= seconds
    while (i % rot != 0 || (another && wl.remaining >= rot)) {
      try tracer.span("cycle", i)(_ => wl.cycle(i))
      catch {
        case e: Throwable =>
          aborted += 1
          System.err.println(s"perfbench: cycle $i aborted: $e")
          e.printStackTrace()
      }
      i += 1
    }
    val measuredMs = (System.nanoTime() - m0) / 1e6
    val f0 = System.nanoTime()
    try wl.finish()
    catch { case e: Throwable => aborted += 1; System.err.println(s"perfbench: final checks failed: $e") }
    val finishMs = (System.nanoTime() - f0) / 1e6
    tracer.stop()
    val loadAfter = loadavg()
    val cpuAfter = cpuTicks()
    // share of the machine's CPU time the hypervisor gave to others
    val steal = (cpuAfter._2 - cpuBefore._2).toDouble /
      math.max(1L, cpuAfter._1 - cpuBefore._1)
    val rt = Runtime.getRuntime
    val out =
      s"""{"workload":${Json.str(workload)},"seed":$seed,"seconds":$seconds,"traced":$traced,
         |"env":{"nproc":${rt.availableProcessors},"cores_used":$cpus,"heap_max_mb":${rt.maxMemory / 1048576},
         |"loadavg_before":${Json.str(loadBefore)},"loadavg_after":${Json.str(loadAfter)},
         |"cpu_steal_frac":${Json.num(steal)},
         |"spark":${Json.str(spark.version)}},
         |"setup":{"jvm_start_ms":${java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime},
         |"session_ready_ms":$sessionReadyMs,"gen_ms":${built.map(g => Json.num(g._1)).mkString("[", ",", "]")},
         |"references_ms":${Json.num(refMs)},"warmup_ms":${Json.num(warmupMs)},"measure_start_ms":$measureStartMs,
         |"final_checks_ms":${Json.num(finishMs)}},
         |"cycles":$i,"rotation":$rot,"aborted_cycles":$aborted,"probe_ms":${Json.num(Mem.spentMs)},"probed_bytes":${Mem.probed.mkString("[", ",", "]")},"measured_ms":${Json.num(measuredMs)},"warm_spans":$warmSpans,
         |"spans":${tracer.json}}
         |""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(args("out")),
      out.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    spark.stop()
  }

  private def make(name: String, c: Ctx): Workload = name match {
    case "viz_session" => new Viz(c, rows = 60000L)
    case "lake_corpus" => new Both(new Lake(c, rows = 100000L), new Corpus(c, originals = 1200, batches = 10))
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  /** (total, steal) jiffies of all CPUs from /proc/stat; zeros if absent. */
  private def cpuTicks(): (Long, Long) =
    try {
      val f = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("/proc/stat")))
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      (f.take(8).sum, if (f.length > 7) f(7) else 0L)
    } catch { case scala.util.control.NonFatal(_) => (0L, 0L) }

  private def loadavg(): String =
    try new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).trim.split("\\s+").take(3).mkString(" ")
    catch { case scala.util.control.NonFatal(_) => "unavailable" }
}
