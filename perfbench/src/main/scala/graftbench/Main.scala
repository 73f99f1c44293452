package graftbench

import java.nio.file.{Files, Path}

/** The repo benchmark: one workload per invocation.
  *
  * {{{
  * Main --workload <ingest_dashboard|olap_warm|store_cold> --seed <n>
  *      --seconds <s> --trace <0|1> --run-dir <dir> --expected <file>
  *      [--scale full|tiny] [--corrupt-expected <query>] [--reuse-cold-path]
  * }}}
  *
  * Prints one line per metric (name, value, unit, sample count) and the
  * output-check verdict, then, as the last line, one JSON object with the
  * end-to-end metrics (`--trace 0`) or the per-layer metrics
  * (`--trace 1`). An isolation guard that trips ends the run with exit
  * code 3 and no result.
  */
object Main {
  /** Warm queries: a spread over the query-bucket families whose timed
    * passes submit no build jobs once the first pass has run.
    */
  val OlapQueries: Seq[String] = Seq(
    "q01_pricing_summary", "q05_local_supplier_volume", "t17_text_normalize",
    "d08_dedup_clusters", "s01_cosine_topk", "m01_media_features",
    "dx06_dashboard_slice")
  /** Store builders, in run order: the IVF batch-serving stores, the
    * label lifecycle and the graph-ANN base graph.
    */
  val ColdQueries: Seq[String] = Seq(
    "s31_ivf_batch_serving", "d35_stored_label_lifecycle", "s38_graph_beam_search")

  final case class Scale(olapSf: Double, olap: Seq[String], coldSf: Double,
      cold: Seq[String], modems: Int)
  val Scales: Map[String, Scale] = Map(
    "full" -> Scale(0.01, OlapQueries, 0.001, ColdQueries, modems = 4),
    // smoke size: a few of each
    "tiny" -> Scale(0.001, Seq("q01_pricing_summary", "d08_dedup_clusters", "dx06_dashboard_slice"),
      0.001, Seq("t33_trained_quality_classifier", "s31_ivf_batch_serving"), modems = 2))

  /** Set-ups per run; `setup_s` is their median. */
  val SetupRepeats = 7

  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap ++ argv.filter(_ == "--reuse-cold-path").map(_.drop(2) -> "1")
    def need(k: String) = args.getOrElse(k, usage(s"missing --$k"))
    val workload = need("workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val trace = need("trace") == "1"
    val runDir = Path.of(need("run-dir"))
    val scaleName = args.getOrElse("scale", "full")
    val scale = Scales.getOrElse(scaleName, usage(s"unknown scale $scaleName"))
    val expected = new Expected(Path.of(need("expected")), args.get("corrupt-expected"))
    val cores = Runtime.getRuntime.availableProcessors()

    val w: Workload = workload match {
      // one scrape per modem every SCRAPE_DELAY = 10 s, the reference
      // scraper's default (SURVEY.md section 6, mb8600.py:109), in two
      // staggered phases: one micro-batch every 5 s
      case "ingest_dashboard" => new IngestDashboard(scale.modems, phases = 2,
        warmTicks = 3, stepSeconds = 10, windowMinutes = 10)
      case "olap_warm" => new OlapWarm(scale.olapSf, scale.olap, expected)
      case "store_cold" => new StoreCold(scale.coldSf, scale.cold, expected,
        reusePath = args.contains("reuse-cold-path"))
      case other => usage(s"unknown workload $other")
    }
    Files.createDirectories(runDir)
    val ctx = new Ctx(cores, runDir, seed, trace)
    val code = try {
      def timed(body: => Unit): Double = {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      // a first session, started while the JVM is cold, generates the inputs
      ctx.startSession()
      val inputsS = timed(w.inputs(ctx))
      val setupS = Seq.fill(SetupRepeats)(timed(w.setup(ctx)))
      val warmUpS = timed(w.warmUp(ctx))
      val r = w.run(ctx, seconds)
      report(workload, ctx, r, setupS, Seq(("inputs_s", inputsS, "s", 1),
        ("warmup_s", warmUpS, "s", 1)), trace)
      if (trace) ctx.tracer.writeSpans(runDir.getParent.resolve(s"trace-$workload-$seed.jsonl"))
      0
    } catch {
      case e: IsolationError =>
        System.err.println(s"[graftbench] isolation guard tripped: ${e.getMessage}")
        3
    } finally if (ctx.spark != null) ctx.spark.stop()
    sys.exit(code)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"[graftbench] $msg")
    sys.exit(2)
  }

  private def report(workload: String, ctx: Ctx, r: RunResult, setupS: Seq[Double],
      phases: Seq[(String, Double, String, Int)], trace: Boolean): Unit = {
    val ops = r.opSeconds
    val e2e = Seq(
      ("setup_s", Stats.median(setupS), "s", setupS.size),
      ("ops_per_s", r.attempted / r.elapsedS, "1/s", r.attempted.toInt),
      ("op_p50_s", Stats.median(ops), "s", ops.size))
    val lines = e2e ++
      (if (ops.size >= 100) Seq(("op_p90_s", Stats.percentile(ops, 90), "s", ops.size)) else Nil) ++
      Seq(("failed_ratio", r.failed.toDouble / r.attempted, "ratio", r.attempted.toInt)) ++
      phases ++
      r.extra
    lines.foreach { case (n, v, u, k) => println(f"[$workload] $n%-28s ${Json.num(v)}%s $u (n=$k)") }
    println(s"[$workload] setup samples: ${setupS.map(s => f"$s%.3f").mkString(" ")} s")
    ctx.layers.update("jvm.heap_peak_mb", ctx.heapPeakMb)
    if (trace) {
      ctx.layers.toSeq.foreach { case (n, v, u) => println(f"[$workload] $n%-36s ${Json.num(v)}%s $u") }
      ctx.tracer.selfSeconds().toSeq.sortBy(_._1).foreach { case (n, s) =>
        println(f"[$workload] self time $n%-30s $s%.4f s") }
    }
    val correct = r.failed == 0
    println(s"[$workload] output check: ${if (correct) "pass" else "FAIL"} " +
      s"(${r.attempted - r.failed}/${r.attempted} ops correct)")
    val metrics =
      if (trace) ctx.layers.toSeq
      else e2e.map { case (n, v, u, _) => (n, v, u) }
    println(s"""{"correct": $correct, "attempted": ${r.attempted}, "failed": ${r.failed}, """ +
      s""""metrics": ${Json.metrics(metrics)}}""")
  }
}
