package pipebench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Envelope, InvertedIndex, Search}
import graft.plans.{BatchPipeline, CorpusPipeline, Maintenance}
import graft.sources.Articles
import graft.streaming.IngestStream

/** The reference's ingest path, one micro-batch at a time, composed
  * from the program's public functions: validate/envelope → landing
  * (idempotent on the message key) → VADER + lexicon scoring and the
  * processed append → inverted-index append → release-card ledgers.
  * The standing state the stream starts from is loaded through the
  * same calls, as one backfill batch.
  */
object NewsPipeline {

  /** One 5-minute fetch cycle of a feed at page size 100. */
  def pageSize(ctx: Ctx): Int = if (ctx.smoke) 10 else 100

  final case class Dirs(base: String) {
    val raw = s"$base/raw"
    val processed = s"$base/processed"
    val index = s"$base/index"
    val card = s"$base/card"
  }

  val IndexFields = Seq("title", "description", "content")

  /** Batch read of generator pages `[first, first + pages)` of `feed`
    * through the `graft-articles` source; `redeliver` mixes earlier
    * articles into each page, as a live feed does. */
  def read(spark: SparkSession, feed: String, seed: Long, first: Long,
           pages: Int, pageSize: Int, redeliver: Boolean = true): DataFrame =
    spark.read.format("graft-articles")
      .option("fetcher", classOf[BenchFetcher].getName)
      .option("source_api", Gen.sourceOption(feed, seed, first, redeliver))
      .option("pages", pages.toString)
      .option("page_size", pageSize.toString)
      .load()

  /** validate → sanitize → envelope (A.2 shape plus the message key). */
  def envelopes(articles: DataFrame, feed: String): DataFrame =
    IngestStream.producerTransform(articles, feed, "url", "title", "url", "publishedAt")
      .select(col("key"), col("source_api"), col("fetched_at"),
        struct(Articles.articleSchema.fieldNames.map(col): _*).as("article"))

  /** Fold one batch of envelopes into the standing state. */
  def ingest(ctx: Ctx, d: Dirs, env: DataFrame, batchId: Long): Unit = {
    val spark = env.sparkSession
    val t = ctx.tracer
    val fresh = t.span("streaming.land") {
      val existing = Dedup.readStateOr(spark, d.raw, env.select(col("key")).limit(0))
      val f = Dedup.idempotentBatch(env, existing.select(col("key")), "key")
        .localCheckpoint(eager = true)
      f.write.mode("append").parquet(d.raw)
      f
    }
    val analyzed = t.span("BatchPipeline.analyze") {
      BatchPipeline.analyze(fresh)
        .withColumn("doc_id", xxhash64(col("key")))
        .localCheckpoint(eager = true)
    }
    t.span("BatchPipeline.processed_append") {
      BatchPipeline.processedDoc(analyzed).write.mode("append").parquet(d.processed)
    }
    t.span("InvertedIndex.appendBatch") {
      InvertedIndex.appendBatch(
        analyzed.select(col("doc_id"), col("article.title").as("title"),
          col("article.description").as("description"),
          col("article.content").as("content")),
        "doc_id", IndexFields, d.index)
    }
    t.span("CorpusPipeline.cardDeltaBatch") {
      CorpusPipeline.cardDeltaBatch(
        analyzed.select(col("doc_id"), col("source_api"),
          length(col("text")).as("n_chars"), col("text")),
        "doc_id", "source_api", "n_chars", "text", d.card, batchId)
    }
    fresh.unpersist(); analyzed.unpersist()
  }

  /** Data files under the index postings. */
  def postingFiles(spark: SparkSession, indexDir: String): Int =
    Maintenance.groupStats(spark, s"$indexDir/postings").map(_.files).sum

  /** Both feeds' pages `[first, first + pages)` as one envelope batch. */
  def offered(ctx: Ctx, first: Long, pages: Int): DataFrame =
    Gen.Feeds.map(f => envelopes(
        read(ctx.spark, f, ctx.seed, first, pages, pageSize(ctx)), f))
      .reduce(_ unionByName _)

  /** BM25 top-k served from the index must equal the full-scan
    * `Search.bm25Scored` over the landed docs (scores quantized to the
    * nano grid, as the incremental-index query does). */
  def topKMatchesScan(ctx: Ctx, d: Dirs, terms: Seq[String], k: Int): (Boolean, String) = {
    val spark = ctx.spark
    val q = (c: org.apache.spark.sql.Column) =>
      floor(c * 1000000000.0 + 0.5).cast("long")
    val served = InvertedIndex.scored(spark, d.index, terms)
      .select(col("doc_id"), q(col("score")).as("score_q"))
      .orderBy(col("score_q").desc, col("doc_id")).limit(k)
      .filter(col("score_q") > 0).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val docs = spark.read.parquet(d.processed).select(
      xxhash64(Envelope.messageKey(col("source_api"), col("article.url"))).as("doc_id"),
      col("article.title").as("title"), col("article.description").as("description"),
      col("article.content").as("content"))
    val scan = Search.bm25Scored(docs, IndexFields, terms)
      .select(col("doc_id"), q(col("score")).as("score_q"))
      .orderBy(col("score_q").desc, col("doc_id")).limit(k)
      .filter(col("score_q") > 0).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    (served == scan && served.nonEmpty,
      s"terms=${terms.mkString("+")} served=${served.size} scan=${scan.size} " +
        s"first=${served.headOption.getOrElse("-")}/${scan.headOption.getOrElse("-")}")
  }

  /** Landed keys, index seen-ids, processed rows and card counts must
    * each equal the distinct valid keys the generator offered. */
  def checkState(ctx: Ctx, d: Dirs, pages: Long, report: Report): Unit = {
    val spark = ctx.spark
    val expected = Gen.expectedValidKeys(ctx.seed, pages, pageSize(ctx), redeliver = true)
    def rowsAndDistinct(dir: String, key: String): (Long, Long) = {
      val r = spark.read.parquet(dir).agg(count(lit(1)), countDistinct(col(key))).collect()(0)
      (r.getLong(0), r.getLong(1))
    }
    val (landed, landedKeys) = rowsAndDistinct(d.raw, "key")
    report.check("landed keys = distinct valid keys offered",
      landed == expected && landedKeys == expected,
      s"rows=$landed distinct=$landedKeys expected=$expected")
    val (seenRows, seenIds) = rowsAndDistinct(s"${d.index}/seenIds", "doc_id")
    report.check("index seen-ids = distinct valid keys offered",
      seenRows == expected && seenIds == expected,
      s"rows=$seenRows distinct=$seenIds expected=$expected")
    val processed = spark.read.parquet(d.processed).count()
    report.check("processed rows = distinct valid keys offered",
      processed == expected, s"rows=$processed expected=$expected")
    val cardN = CorpusPipeline.cardFromDirs(spark, d.card)
      .agg(sum(col("n"))).collect()(0).getLong(0)
    report.check("card count = distinct valid keys offered",
      cardN == expected, s"n=$cardN expected=$expected")
    val r = Gen.rng(ctx.seed, 99L, pages)
    val terms = Seq.fill(3)(Gen.vocab(40 + r.nextInt(400)))
    val (ok, detail) = topKMatchesScan(ctx, d, terms, 50)
    report.check("index top-k = full-scan BM25 over the landed docs", ok, detail)
  }
}

/** `news_stream`: closed-loop micro-batches of both feeds' 5-minute
  * fetch cycle (200 articles, ~30% redelivered, ~3% invalid), each read
  * through `graft-articles` and folded by [[NewsPipeline.ingest]] (the
  * body a `foreachBatch` sink would run), from a standing state that
  * setup loads through the same calls. Per-batch fixed costs,
  * small-file writes and seen-ids re-reads dominate; sentiment does
  * little.
  *
  * The traced run alternates untraced and traced batches (the
  * difference is the tracing overhead), then serves the search query
  * mix over the state the stream wrote, then runs one compaction pass
  * of the index postings as the append path does once a bucket passes
  * 12 files. */
object NewsStream {

  /** Micro-batches from generator page `firstPage` on, the first
    * `warmup` of them untimed (the first batch onto a non-empty state
    * runs code the set-up loads never did). A traced run
    * alternates untraced and traced batches, so the overhead is read
    * on the same warm state. Returns the untraced and the traced
    * per-batch seconds and the next unread page. */
  private def window(ctx: Ctx, d: NewsPipeline.Dirs, report: Report, firstPage: Long,
                     minBatches: Int, warmup: Int): (Seq[Double], Seq[Double], Long) = {
    val traced = ctx.tracer.enabled
    val times = Seq.fill(2)(mutable.ArrayBuffer.empty[Double])
    val (_, n) = Loop(ctx, report, "micro-batch", if (traced) 2 * minBatches else minBatches,
        warmup) { i =>
      ctx.tracer.active = traced && i >= warmup && (i - warmup) % 2 == 1
      val page = firstPage + i
      val s = Stats.time(ctx.tracer.span("stream.batch") {
        NewsPipeline.ingest(ctx, d, NewsPipeline.offered(ctx, page, 1), page)
      })._2
      if (i >= warmup) times(if (ctx.tracer.active) 1 else 0) += s
    }
    ctx.tracer.active = traced
    (times(0).toSeq, times(1).toSeq, firstPage + n)
  }

  def run(ctx: Ctx): Report = {
    val report = new Report
    val bulkPages = if (ctx.smoke) 2 else 3
    val setups = if (ctx.smoke) 1 else 3
    // a traced run times this many operations on each side
    val minBatches = if (ctx.smoke) 1 else if (ctx.tracer.enabled) 2 else 3
    val warmup = if (ctx.smoke) 0 else 1
    val perBatch = Gen.Feeds.size * NewsPipeline.pageSize(ctx)

    // set-up: the standing state, built `setups` times; the last is used
    val setupTimes = Stats.setups(setups) { i =>
      NewsPipeline.ingest(ctx, NewsPipeline.Dirs(ctx.dir(s"stream-$i")),
        NewsPipeline.offered(ctx, 0, bulkPages), 0L)
    }
    val d = NewsPipeline.Dirs(ctx.dir(s"stream-$setups"))
    ctx.log("set-up done")

    val landedBefore = if (ctx.tracer.enabled) ctx.spark.read.parquet(d.raw).count() else 0L
    val (lat, tLat, pages) = window(ctx, d, report, bulkPages, minBatches, warmup)
    ctx.log(f"stream: ${lat.size} batches of $perBatch articles, setup " +
      setupTimes.map(x => f"$x%.2f").mkString("/") + " s, batches " +
      lat.map(x => f"$x%.2f").mkString(" ") + " s")
    report.setE2e(Stats.median(setupTimes), perBatch, Stats.median(lat))

    if (ctx.tracer.enabled) {
      val landed = ctx.spark.read.parquet(d.raw).count() - landedBefore
      val queries = ctx.tracer.span("serve.window")(SearchServe.serve(ctx, d, report))
      val filesBefore = NewsPipeline.postingFiles(ctx.spark, d.index)
      val compacted = ctx.tracer.span("Maintenance.compact") {
        Maintenance.compact(ctx.spark, s"${d.index}/postings", Seq("term", "doc_id"), 0)
      }
      ctx.tracer.drain()
      Layers.stream(ctx, report, lat, tLat, (pages - bulkPages) * perBatch, landed,
        filesBefore, compacted.compacted)
      Layers.serve(ctx, report, queries)
    }
    NewsPipeline.checkState(ctx, d, pages, report)
    ctx.log("checks done")
    report
  }
}
