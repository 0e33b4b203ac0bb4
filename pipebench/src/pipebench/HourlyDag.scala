package pipebench

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.operators.InvertedIndex
import graft.plans.BatchPipeline

/** `hourly_dag`: the reference's hourly analysis DAG,
  * `BatchPipeline.run`, over one landed hour at high ingest (~20% of it
  * already processed): the processed and searchable projections are
  * written, then `InvertedIndex.writeIndex` builds the index from the
  * searchable output. Per-row CPU (sentiment, analyzer) and the
  * anti-join dominate; `appendBatch` and compaction are bypassed.
  *
  * The traced run alternates untraced and traced passes, splits one
  * pass into extract and score by calling
  * `BatchPipeline.extractUnprocessed` and `BatchPipeline.analyze`
  * separately, and runs the corpus funnel ([[CorpusFunnel]]).
  */
object HourlyDag {

  /** 2026-08-01T12:00:00Z; every landed envelope is fetched in the hour after. */
  val HourStart = 1785585600L

  final case class Dirs(base: String) {
    val raw = s"$base/raw"
    val processed = s"$base/processed"
    val out = s"$base/out"
  }

  def articles(ctx: Ctx): Int = if (ctx.smoke) 400 else 5000

  def cutoff: Column = lit(new java.sql.Timestamp(HourStart * 1000L))

  /** Lands the hour (validated envelopes) and processes ~20% of it. */
  def setup(ctx: Ctx, d: Dirs): Unit = {
    val spark = ctx.spark
    val perFeed = articles(ctx) / Gen.Feeds.size
    val pageSize = 100
    val env = Gen.Feeds.map { f =>
      NewsPipeline.envelopes(NewsPipeline.read(spark, f, ctx.seed, 0,
        (perFeed + pageSize - 1) / pageSize, pageSize, redeliver = false), f)
    }.reduce(_ unionByName _)
      .withColumn("fetched_at", (lit(HourStart) + pmod(xxhash64(col("key")), lit(3600L)))
        .cast("timestamp"))
      .withColumn("inserted_at", col("fetched_at"))
    env.write.mode("overwrite").parquet(d.raw)
    val raw = spark.read.parquet(d.raw)
    BatchPipeline.processedDoc(BatchPipeline.analyze(
        raw.filter(pmod(xxhash64(col("key"), lit(ctx.seed)), lit(5L)) === 0L)))
      .write.mode("overwrite").parquet(d.processed)
  }

  /** One DAG pass: both projections, then the index over the searchable one. */
  def pass(ctx: Ctx, d: Dirs): Unit = {
    val spark = ctx.spark
    val t = ctx.tracer
    val (processed, searchable) = BatchPipeline.run(
      spark.read.parquet(d.raw), spark.read.parquet(d.processed), cutoff)
    t.span("BatchPipeline.processed_write") {
      processed.write.mode("overwrite").parquet(s"${d.out}/processed")
    }
    t.span("BatchPipeline.searchable_write") {
      searchable.write.mode("overwrite").parquet(s"${d.out}/searchable")
    }
    t.span("InvertedIndex.writeIndex") {
      InvertedIndex.writeIndex(
        spark.read.parquet(s"${d.out}/searchable")
          .withColumn("id", xxhash64(col("doc_id"))),
        "id", Seq("title", "content"), s"${d.out}/index")
    }
  }

  /** Passes over the hour, after `warmup` untimed ones that pay the
    * pass's first-use JIT and code generation. A traced run alternates
    * untraced and traced passes; returns the untraced and the traced
    * pass seconds. */
  def window(ctx: Ctx, d: Dirs, report: Report, minPasses: Int,
             warmup: Int): (Seq[Double], Seq[Double]) = {
    val traced = ctx.tracer.enabled
    val times = Seq.fill(2)(scala.collection.mutable.ArrayBuffer.empty[Double])
    Loop(ctx, report, "DAG pass", if (traced) 2 * minPasses else minPasses, warmup) { i =>
      ctx.tracer.active = traced && i >= warmup && (i - warmup) % 2 == 1
      val s = Stats.time(ctx.tracer.span("dag.pass")(pass(ctx, d)))._2
      if (i >= warmup) times(if (ctx.tracer.active) 1 else 0) += s
    }
    ctx.tracer.active = traced
    (times(0).toSeq, times(1).toSeq)
  }

  def run(ctx: Ctx): Report = {
    val report = new Report
    val spark = ctx.spark
    val setups = if (ctx.smoke) 1 else 3
    // a traced run times this many operations on each side
    val minPasses = if (ctx.smoke) 1 else if (ctx.tracer.enabled) 2 else 3
    val warmup = if (ctx.smoke) 0 else 1
    val setupTimes = Stats.setups(setups)(i => setup(ctx, Dirs(ctx.dir(s"dag-$i"))))
    val d = Dirs(ctx.dir(s"dag-$setups"))
    ctx.log("set-up done")
    val (times, traced) = window(ctx, d, report, minPasses, warmup)
    val rawRows = spark.read.parquet(d.raw).count()
    ctx.log(f"dag: ${times.size} passes over $rawRows articles, setup " +
      setupTimes.map(x => f"$x%.2f").mkString("/") + " s, passes " +
      times.map(x => f"$x%.2f").mkString(" ") + " s")
    report.setE2e(Stats.median(setupTimes), rawRows, Stats.median(times))

    if (ctx.tracer.enabled) {
      // extract and score timed apart: each materialised on its own
      ctx.tracer.span("BatchPipeline.extractUnprocessed") {
        val fresh = BatchPipeline.extractUnprocessed(
          spark.read.parquet(d.raw), spark.read.parquet(d.processed), cutoff)
          .localCheckpoint(eager = true)
        ctx.tracer.span("BatchPipeline.analyze") {
          BatchPipeline.analyze(fresh).write.format("noop").mode("overwrite").save()
        }
        fresh.unpersist()
      }
      val funnel = ctx.tracer.span("funnel")(CorpusFunnel.run(ctx, report))
      ctx.tracer.drain()
      val processedRows = spark.read.parquet(d.processed).count()
      Layers.dag(ctx, report, times, traced, rawRows, processedRows)
      Layers.funnel(ctx, report, funnel)
    }
    check(ctx, d, report)
    ctx.log("checks done")
    report
  }

  /** The processed output holds exactly the hour's fresh articles with
    * non-empty text; the index counts the same documents. */
  def check(ctx: Ctx, d: Dirs, report: Report): Unit = {
    val spark = ctx.spark
    def urls(df: DataFrame): Set[String] =
      df.select(col("article.url")).collect().map(_.getString(0)).toSet
    val raw = spark.read.parquet(d.raw)
    val nonEmpty = raw.filter(length(trim(concat_ws(" ",
      coalesce(col("article.title"), lit("")), coalesce(col("article.description"), lit("")),
      coalesce(col("article.content"), lit(""))))) > 0)
    val expected = (urls(nonEmpty) -- urls(spark.read.parquet(d.processed))).size.toLong
    val out = spark.read.parquet(s"${d.out}/processed").count()
    report.check("DAG processed rows = fresh articles with non-empty text",
      out == expected && expected > 0, s"rows=$out expected=$expected")
    val indexed = spark.read.parquet(s"${d.out}/index/stats").agg(sum("n_docs"))
      .collect()(0).getLong(0)
    report.check("DAG index documents = fresh articles", indexed == expected,
      s"n_docs=$indexed expected=$expected")
  }
}
