package perfbench

/** Per-layer metrics derived from a traced run's spans.
  *
  * Every workload reports the same catalogue; a call a workload never
  * makes reports 0, which is the "stays flat" prediction for it.
  */
object Layers {

  val Modules: Seq[String] = Seq("sources", "functions", "operators", "ml", "streaming")

  /** Public calls timed as `<module>.<call>` spans, each with `.build`
    * and `.run` children.
    */
  val Calls: Seq[String] = Seq(
    "sources.read_csv", "functions.infer", "operators.filter", "operators.join",
    "operators.impute", "operators.sort", "sources.save", "operators.groupby",
    "operators.pivot", "ml.curate", "ml.minhash_pairs", "ml.deduped_corpus",
    "ml.decontaminate", "operators.pack", "streaming.ingest_batch")

  /** Listener counters summed per module, per traced pass. */
  val Counters: Seq[(String, String)] = Seq(
    "jobs" -> "count", "tasks" -> "count", "plan_ms" -> "ms", "codegen_compiles" -> "count",
    "task_cpu_ms" -> "ms", "shuffle_bytes" -> "bytes", "spill_bytes" -> "bytes",
    "gc_ms" -> "ms", "driver_only_ms" -> "ms")

  private def median(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else Main.median(xs)

  /** Counter `k` summed over a span and its descendants. */
  private def counter(t: Tracer, s: Span, k: String): Double = k match {
    case "driver_only_ms" => t.driverOnlyMs(s)
    case _ => t.subtree(s).map { x =>
      val c = t.countersOf(x.id)
      k match {
        case "jobs" => c.jobs.toDouble
        case "tasks" => c.tasks.toDouble
        case "plan_ms" => c.planMs.toDouble
        case "codegen_compiles" => x.codegenCompiles.toDouble
        case "task_cpu_ms" => c.taskCpuNs / 1e6
        case "shuffle_bytes" => c.shuffleBytes.toDouble
        case "spill_bytes" => c.spillBytes.toDouble
        case "gc_ms" => x.gcMs.toDouble
      }
    }.sum
  }

  def metrics(t: Tracer, passes: Seq[(Range, Map[String, Double])], tracedWall: Seq[Double],
      plainWall: Seq[Double], startS: Double): Map[String, (Double, String)] = {
    val out = scala.collection.mutable.LinkedHashMap[String, (Double, String)]()
    val n = math.max(1, passes.length)
    val inPass = passes.map { case (r, _) => r.map(t.spans(_)) }
    def calls(name: String): Seq[Span] = inPass.flatten.filter(_.name == name)
    def child(s: Span, suffix: String): Option[Span] =
      t.children(s.id).find(_.name == s.name + suffix)

    Calls.foreach { c =>
      val spans = calls(c)
      out(s"$c.run_s") = (median(spans.map(_.wallS)), "s")
      if (c != "sources.save")
        out(s"$c.build_jobs") = (median(spans.flatMap(child(_, ".build")).map(counter(t, _, "jobs"))), "count")
    }
    Modules.foreach { m =>
      val spans = inPass.flatten.filter(s => Calls.contains(s.name) && s.name.startsWith(m + "."))
      Counters.foreach { case (k, unit) =>
        out(s"$m.$k") = (spans.map(counter(t, _, k)).sum / n, unit)
      }
    }
    val ingest = calls("streaming.ingest_batch")
    Seq("jobs" -> "count", "plan_ms" -> "ms", "codegen_compiles" -> "count",
        "driver_only_ms" -> "ms").foreach { case (k, unit) =>
      out(s"streaming.ingest_batch.$k") = (median(ingest.map(counter(t, _, k))), unit)
    }
    out("ml.deduped_corpus.jobs") =
      (median(calls("ml.deduped_corpus").map(counter(t, _, "jobs"))), "count")
    def fig(k: String): Double = median(passes.flatMap(_._2.get(k)))
    val cand = fig("candidate_pairs")
    out("ml.minhash_pairs.candidate_pairs") = (cand, "count")
    out("ml.minhash_pairs.verified_frac") =
      (if (cand > 0) fig("verified_pairs") / cand else 0.0, "ratio")
    out("sources.bytes_written") = (fig("bytes_written"), "bytes")
    out("ml.index_bytes") = (fig("index_bytes"), "bytes")

    val setup = t.spans.toSeq.filter(_.pass < 0)
    out("ml.train_s") = (median(setup.filter(_.name == "ml.train").map(_.wallS)), "s")
    out("ml.build_index_s") = (median(setup.filter(_.name == "ml.build_index").map(_.wallS)), "s")
    out("GraftSession.start_s") = (startS, "s")
    val passSpans = inPass.flatMap(_.find(_.name == "pass"))
    out("GraftSession.codegen_compiles") =
      (passSpans.map(counter(t, _, "codegen_compiles")).sum / n, "count")
    out("pass.self_s") = (median(passSpans.map(t.selfS)), "s")
    val plain = median(plainWall)
    out("trace.overhead_s") = (median(tracedWall) - plain, "s")
    val callSum = inPass.map(_.filter(s => Calls.contains(s.name)).map(_.wallS).sum)
    out("trace.fusion_gap_s") = (median(callSum) - plain, "s")
    out.toMap
  }
}
