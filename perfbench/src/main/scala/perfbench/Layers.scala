package perfbench

import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, named after the repository's
  * modules. Times and counts are per primary op (query, batch or pass);
  * ratios are over the whole timed run. A layer a workload bypasses
  * reports 0. */
object Layers {
  val Mb = 1e6

  def codegenSnapshot: (Long, Long) =
    (org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime)

  /** Corpus stage costs: each text-chain prefix drained alone, a stage's
    * cost being its prefix minus the previous one (negative when a longer
    * prefix plans cheaper); plus the candidate counts behind the two
    * verify steps. */
  def operators(c: Ctx, p: Corpus.Pipeline): Unit = {
    import graft.operators.Dedup
    // each prefix drained once to warm its plan, then timed
    def timed(name: String, dfs: Seq[org.apache.spark.sql.DataFrame]): Double = {
      dfs.foreach(c.drainNoop)
      val t0 = System.nanoTime()
      c.tracer.span("prefix", name)(dfs.foreach(c.drainNoop))
      (System.nanoTime() - t0) / 1e9
    }
    var prev = 0.0
    p.prefixes.foreach { case (name, dfs) =>
      val t = timed(name, dfs)
      c.facts(s"operators.${name}_s") = t - prev
      prev = t
    }
    c.facts("operators.hard_negatives_s") = timed("hard_negatives", Seq(p.hardNegatives))

    val bands = p.quality.select(col("doc_id"), posexplode(Dedup.lshBandKeys(
      Dedup.minhashSignature(col("text"), 8, 3), 8, 4)).as(Seq("band", "key")))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id"), col("b.doc_id")).distinct().count()
    c.facts("operators.dup_candidates") = cand.toDouble
    c.facts("operators.dup_verify_yield") = p.pairs.count().toDouble / math.max(1L, cand)

    val planes = 8
    val withB = p.hardNegatives.sparkSession.read.parquet(s"${c.inputs}/embeddings")
      .select(col("vec_id").as("id"), col("label").as("lbl"),
        Dedup.signBucketHashed(col("embedding").cast("array<double>"), planes).as("bucket"))
    val hnCand = withB.select(col("id").as("a_id"), col("lbl").as("a_lbl"),
        explode(Dedup.probeBuckets(col("bucket"), planes)).as("pb"))
      .join(withB.select(col("bucket").as("pb"), col("id").as("n_id"), col("lbl").as("n_lbl")), "pb")
      .filter(col("a_id") =!= col("n_id") && col("a_lbl") =!= col("n_lbl")).count()
    c.facts("operators.hn_candidates") = hnCand.toDouble
    c.facts("operators.hn_verify_yield") =
      p.hardNegatives.count().toDouble / math.max(1L, hnCand)
  }

  /** Per-layer metrics a workload measures itself (0 where bypassed). */
  val WorkloadFacts: Seq[(String, String)] = Seq(
    "operators.c4_clean_s" -> "s", "operators.quality_filter_s" -> "s",
    "operators.minhash_pairs_s" -> "s", "operators.drop_near_dups_s" -> "s",
    "operators.extract_s" -> "s", "operators.span_join_consolidate_s" -> "s",
    "operators.hard_negatives_s" -> "s", "operators.dup_candidates" -> "count",
    "operators.dup_verify_yield" -> "ratio", "operators.hn_candidates" -> "count",
    "operators.hn_verify_yield" -> "ratio",
    "streams.pairs" -> "count", "streams.valve_trips" -> "count",
    "streams.injected_recall" -> "ratio")

  def report(c: Ctx): Unit = {
    val cnt = c.counters.get
    cnt.drain()
    val L = c.result.layers
    val ops = c.opWindows.toSeq
    val primary = math.max(1, c.primaryOps).toDouble
    val opIds = ops.map(_._1).toSet
    def groups(suffix: String) = cnt.groups.asScala.collect {
      case (g, v) if opIds.contains(g.stripSuffix(suffix)) &&
        (suffix.isEmpty || g.endsWith(suffix)) => v
    }
    val allG = groups("") ++ groups("/construct")
    val windows = ops.map { case (id, a, b) => (id, c.epochMs(a), c.epochMs(b)) }
    val wallS = ops.map { case (_, a, b) => (b - a) / 1e9 }.sum
    def opOf(ms: Long) = windows.find { case (_, a, b) => ms >= a && ms <= b }.map(_._1)
    val acts = cnt.actions.asScala.toSeq.flatMap(a => opOf(a.startMs).map(_ -> a))

    val self = c.tracer.selfSeconds
    L("entry.construct_s") = (self.getOrElse("construct", 0.0) / primary, "s")
    L("entry.eager_jobs") = (groups("/construct").map(_.jobs).sum / primary, "count")
    L("catalyst.actions") = (acts.size / primary, "count")
    L("catalyst.analyze_s") = (acts.map(_._2.analyzeMs).sum / 1e3 / primary, "s")
    L("catalyst.optimize_s") = (acts.map(_._2.optimizeMs).sum / 1e3 / primary, "s")
    L("catalyst.plan_s") = (acts.map(_._2.planMs).sum / 1e3 / primary, "s")
    L("expressions.codegen_compiles") = (c.codegen._1 / primary, "count")
    L("expressions.codegen_compile_s") = (c.codegen._2 / 1e9 / primary, "s")
    L("exec.jobs") = (allG.map(_.jobs).sum / primary, "count")
    L("exec.stages") = (allG.map(_.stages).sum / primary, "count")
    L("exec.tasks") = (allG.map(_.tasks).sum / primary, "count")
    val runS = allG.map(_.runMs).sum / 1e3
    L("exec.task_run_s") = (runS / primary, "s")
    L("exec.task_cpu_s") = (allG.map(_.cpuNs).sum / 1e9 / primary, "s")
    L("exec.gc_s") = (allG.map(_.gcMs).sum / 1e3 / primary, "s")
    L("exec.busy_frac") = (runS / (wallS * c.cores), "ratio")
    L("exec.driver_only_s") = (driverOnlyS(windows, cnt.taskIntervals.asScala.toSeq) / primary, "s")
    L("exec.shuffle_write_mb") = (allG.map(_.shufW).sum / Mb / primary, "MB")
    L("exec.shuffle_read_mb") = (allG.map(_.shufR).sum / Mb / primary, "MB")
    L("exec.spill_mb") = (allG.map(_.spill).sum / Mb / primary, "MB")

    WorkloadFacts.foreach { case (k, u) => L(k) = (c.facts.getOrElse(k, 0.0), u) }
    val writeS = acts.filter(_._2.write).map(_._2.durNs).sum / 1e9
    val written = allG.map(_.written).sum.toDouble
    val userBytes = c.facts.getOrElse("user_bytes", 0.0)
    L("storage.append_s") = (writeS / primary, "s")
    def opWall(prefix: String) =
      ops.filter(_._1.startsWith(prefix)).map { case (_, a, b) => (b - a) / 1e9 }.sum
    // op ids: ingest b<n>/t<n>/m<n>, suite s<n>/<query>, corpus p<n>
    L("storage.compact_s") = (opWall("m") / primary, "s")
    L("storage.mb_written") = (written / Mb / primary, "MB")
    L("storage.write_amp") = (if (userBytes > 0) written / userBytes else 0.0, "ratio")
    L("storage.files") = (c.facts.getOrElse("files", 0.0), "count")
    val batchWrite = acts.filter(a => a._1.startsWith("b") && a._2.write).map(_._2.durNs).sum / 1e9
    L("streams.probe_s") = ((opWall("b") - batchWrite) / primary, "s")
    Seq("run", "op", "construct", "action").foreach { k =>
      L(s"self.${k}_s") = (self.getOrElse(k, 0.0) / primary, "s")
    }
    L("trace.overhead_frac") = (c.facts.getOrElse("trace.overhead_frac", Double.NaN), "ratio")
    c.tracer.writeJson(java.nio.file.Paths.get(c.work, "trace.json"),
      "\"layers\":" + c.result.json)
  }

  /** Wall time inside op windows during which no task was running. */
  def driverOnlyS(windows: Seq[(String, Long, Long)], tasks: Seq[(Long, Long)]): Double = {
    val merged = tasks.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, iv) => iv :: acc
    }
    windows.map { case (_, a, b) =>
      val busy = merged.map { case (s, e) => math.max(0L, math.min(e, b) - math.max(s, a)) }.sum
      (b - a - busy) / 1e3
    }.sum
  }
}
