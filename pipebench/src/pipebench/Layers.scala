package pipebench

/** Per-layer metrics, computed from the traced run's spans. Every
  * traced run prints every metric in [[All]]; a layer the workload
  * does not exercise reads 0. README.md maps each to the end-to-end
  * metric and workload it should move.
  */
object Layers {

  val All: Seq[(String, String)] = Seq(
    // news_stream
    "streaming.land_s" -> "s", "functions.score_s" -> "s",
    "BatchPipeline.processed_append_s" -> "s", "InvertedIndex.append_s" -> "s",
    "CorpusPipeline.card_s" -> "s", "stream.jobs_per_batch" -> "count",
    "stream.tasks_per_batch" -> "count", "stream.seen_rows_read_per_batch" -> "count",
    "streaming.fresh_ratio" -> "ratio",
    "InvertedIndex.postings_files" -> "count", "Maintenance.compactions" -> "count",
    "Maintenance.compact_s" -> "s",
    // the search mix over the stream's state
    "InvertedIndex.topk_p50_s" -> "s", "InvertedIndex.bool_p50_s" -> "s",
    "InvertedIndex.phrase_p50_s" -> "s", "Search.terms_agg_p50_s" -> "s",
    "Search.by_sentiment_p50_s" -> "s", "CorpusPipeline.card_read_p50_s" -> "s",
    "serve.bytes_read_per_query" -> "bytes", "serve.qps" -> "1/s",
    "serve.latency_p50_s" -> "s", "serve.latency_p90_s" -> "s",
    // hourly_dag
    "BatchPipeline.extract_s" -> "s", "BatchPipeline.processed_write_s" -> "s",
    "BatchPipeline.searchable_write_s" -> "s", "InvertedIndex.build_s" -> "s",
    "dag.raw_rows_read_ratio" -> "ratio",
    // the corpus funnel
    "TextAnalysis.annotate_s" -> "s", "DedupApprox.minhash_pairs_s" -> "s",
    "Dedup.cluster_s" -> "s", "Dedup.decontam_s" -> "s", "Export.shards_s" -> "s",
    "funnel.shuffle_bytes" -> "bytes", "funnel.spill_bytes" -> "bytes",
    "funnel.docs_per_s" -> "docs/s",
    // every traced unit of work (micro-batch or DAG pass), median
    "op.jobs" -> "count", "op.tasks" -> "count", "op.executor_run_s" -> "s",
    "op.executor_cpu_s" -> "s", "op.gc_s" -> "s", "op.shuffle_read_bytes" -> "bytes",
    "op.shuffle_write_bytes" -> "bytes", "op.spill_bytes" -> "bytes",
    "op.input_rows" -> "count", "op.result_bytes" -> "bytes",
    // traced minus untraced median op latency, as a share of untraced
    "trace.overhead_pct" -> "%")

  private def put(r: Report, name: String, v: Double): Unit = {
    val unit = All.collectFirst { case (`name`, u) => u }
      .getOrElse(sys.error(s"undeclared per-layer metric $name"))
    r.layers(name) = (v, unit)
  }

  private def medianSeconds(ctx: Ctx, name: String): Double =
    Stats.medianOr0(ctx.tracer.named(name).map(_.seconds))

  /** Span counters of each unit of work, median per counter. */
  private def perOp(ctx: Ctx, r: Report, opSpan: String): Unit = {
    val ops = ctx.tracer.named(opSpan).map(s => ctx.tracer.inclusive(s).toMap.toMap)
    Seq("jobs", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
      "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "input_rows",
      "result_bytes").foreach(k => put(r, s"op.$k", Stats.medianOr0(ops.map(_(k)))))
  }

  private def overhead(r: Report, untraced: Seq[Double], traced: Seq[Double]): Unit =
    put(r, "trace.overhead_pct",
      (Stats.median(traced) - Stats.median(untraced)) / Stats.median(untraced) * 100)

  def stream(ctx: Ctx, r: Report, untraced: Seq[Double], traced: Seq[Double],
             offered: Long, landed: Long, postingFiles: Int, compactedGroups: Int): Unit = {
    val t = ctx.tracer
    put(r, "streaming.land_s", medianSeconds(ctx, "streaming.land"))
    put(r, "functions.score_s", medianSeconds(ctx, "BatchPipeline.analyze"))
    put(r, "BatchPipeline.processed_append_s", medianSeconds(ctx, "BatchPipeline.processed_append"))
    put(r, "InvertedIndex.append_s", medianSeconds(ctx, "InvertedIndex.appendBatch"))
    put(r, "CorpusPipeline.card_s", medianSeconds(ctx, "CorpusPipeline.cardDeltaBatch"))
    val batches = t.named("stream.batch").map(t.inclusive)
    put(r, "stream.jobs_per_batch", Stats.medianOr0(batches.map(_.jobs.toDouble)))
    put(r, "stream.tasks_per_batch", Stats.medianOr0(batches.map(_.tasks.toDouble)))
    // the index and card appends re-read their seen-ids ledgers (and the
    // index's one-row-per-batch stats ledger) on every batch
    val appends = t.named("InvertedIndex.appendBatch").map(s => t.inclusive(s).inputRows)
    val cards = t.named("CorpusPipeline.cardDeltaBatch").map(s => t.inclusive(s).inputRows)
    put(r, "stream.seen_rows_read_per_batch",
      Stats.medianOr0(appends.zip(cards).map { case (a, c) => (a + c).toDouble }))
    put(r, "streaming.fresh_ratio", if (offered == 0) 0.0 else landed.toDouble / offered)
    put(r, "InvertedIndex.postings_files", postingFiles)
    put(r, "Maintenance.compactions", compactedGroups)
    put(r, "Maintenance.compact_s", medianSeconds(ctx, "Maintenance.compact"))
    perOp(ctx, r, "stream.batch")
    overhead(r, untraced, traced)
  }

  def serve(ctx: Ctx, r: Report, queries: Seq[(String, Double)]): Unit = {
    val t = ctx.tracer
    Seq("InvertedIndex.topk_p50_s" -> "InvertedIndex.topK",
      "InvertedIndex.bool_p50_s" -> "InvertedIndex.booleanQuery",
      "InvertedIndex.phrase_p50_s" -> "InvertedIndex.phraseCount",
      "Search.terms_agg_p50_s" -> "Search.termsAgg",
      "Search.by_sentiment_p50_s" -> "Search.bySentiment",
      "CorpusPipeline.card_read_p50_s" -> "CorpusPipeline.cardFromDirs")
      .foreach { case (metric, span) => put(r, metric, medianSeconds(ctx, span)) }
    val spans = SearchServe.Mix.flatMap { case (k, _) => t.named(k) }
    put(r, "serve.bytes_read_per_query",
      if (spans.isEmpty) 0.0 else spans.map(s => t.inclusive(s).inputBytes).sum.toDouble / spans.size)
    val lat = queries.map(_._2)
    put(r, "serve.qps", lat.size / lat.sum)
    put(r, "serve.latency_p50_s", Stats.median(lat))
    put(r, "serve.latency_p90_s", Stats.quantile(lat, 0.9))
  }

  def dag(ctx: Ctx, r: Report, untraced: Seq[Double], traced: Seq[Double],
          rawRows: Long, processedRows: Long): Unit = {
    val t = ctx.tracer
    // the scoring span nests inside the extract span: extract is its self time
    put(r, "BatchPipeline.extract_s",
      Stats.medianOr0(t.named("BatchPipeline.extractUnprocessed").map(t.selfSeconds)))
    put(r, "functions.score_s", medianSeconds(ctx, "BatchPipeline.analyze"))
    put(r, "BatchPipeline.processed_write_s", medianSeconds(ctx, "BatchPipeline.processed_write"))
    put(r, "BatchPipeline.searchable_write_s", medianSeconds(ctx, "BatchPipeline.searchable_write"))
    put(r, "InvertedIndex.build_s", medianSeconds(ctx, "InvertedIndex.writeIndex"))
    // rows the two projection writes read, per row of their inputs
    // (the landed hour plus the processed ledger the anti-join reads)
    val writes = Seq("BatchPipeline.processed_write", "BatchPipeline.searchable_write")
      .flatMap(t.named).map(s => t.inclusive(s).inputRows).sum
    val passes = t.named("dag.pass").size
    put(r, "dag.raw_rows_read_ratio",
      writes.toDouble / passes / (rawRows + processedRows))
    perOp(ctx, r, "dag.pass")
    overhead(r, untraced, traced)
  }

  def funnel(ctx: Ctx, r: Report, f: CorpusFunnel.Result): Unit = {
    val t = ctx.tracer
    put(r, "TextAnalysis.annotate_s", medianSeconds(ctx, "TextAnalysis.annotate"))
    put(r, "DedupApprox.minhash_pairs_s", medianSeconds(ctx, "DedupApprox.minhashPairs"))
    put(r, "Dedup.cluster_s", medianSeconds(ctx, "Dedup.clusterVerdictsBy"))
    put(r, "Dedup.decontam_s", medianSeconds(ctx, "Dedup.decontaminate"))
    put(r, "Export.shards_s", medianSeconds(ctx, "Export.writeShards"))
    val pass = Seq("CorpusPipeline.funnel", "CorpusPipeline.materialize")
      .flatMap(t.named).map(t.inclusive)
    put(r, "funnel.shuffle_bytes", pass.map(_.shuffleWriteBytes).sum.toDouble)
    put(r, "funnel.spill_bytes", pass.map(_.spillBytes).sum.toDouble)
    put(r, "funnel.docs_per_s", f.docs / f.seconds)
  }
}
