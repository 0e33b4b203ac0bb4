package pipebench

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators.{Dedup, DedupApprox, Export, TextAnalysis}
import graft.plans.CorpusPipeline

/** The corpus funnel (`CorpusPipeline.withVerdicts` → `funnel` →
  * `materialize`, the q74 recipe) over a multi-copy corpus derived the
  * way `graft.tools.ScaleGen` derives one: copy `c > 0` shifts ids and
  * suffixes every token, so copies do not near-duplicate each other,
  * while a seeded share of base documents are near-duplicates of
  * another base document. Shuffle-heavy text analysis, approximate
  * dedup, decontamination and export that no other path touches.
  */
object CorpusFunnel {

  val Copies = 4
  val IdShift = 10000000L
  val NearDupShare = 0.1

  final case class Result(docs: Long, seconds: Double)

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType),
    StructField("lang", StringType), StructField("source", StringType)))

  /** Base documents; a seeded share copy an earlier document with a
    * few words replaced. */
  def base(ctx: Ctx, n: Int): Seq[Row] = {
    val docs = (0 until n).map(i => Gen.document(ctx.seed, i.toLong))
    val r = Gen.rng(ctx.seed, 31L)
    docs.map { case (id, text, lang, src) =>
      if (id > 0 && r.nextDouble() < NearDupShare) {
        val (_, orig, olang, _) = docs(r.nextInt(id.toInt))
        val ws = orig.split(" ")
        (0 until math.max(1, ws.length / 20)).foreach(_ => ws(r.nextInt(ws.length)) = Gen.vocab(r.nextInt(Gen.VocabSize)))
        Row(id, ws.mkString(" "), olang, src)
      } else Row(id, text, lang, src)
    }
  }

  def corpus(ctx: Ctx, dir: String): DataFrame = {
    val spark = ctx.spark
    val n = if (ctx.smoke) 150 else 1500
    val docs = spark.createDataFrame(spark.sparkContext.parallelize(base(ctx, n), 4), schema)
    (0 until Copies).map { c =>
      val txt = if (c == 0) col("text")
        else regexp_replace(col("text"), "([A-Za-z0-9']+)", s"$$1zz$c")
      docs.select((col("doc_id") + lit(c * IdShift)).as("doc_id"), txt.as("text"),
        col("lang"), col("source"), length(txt).cast("long").as("n_chars"))
    }.reduce(_ unionByName _)
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private val cfg = CorpusPipeline.Config(lineRequireTerminalPunct = false,
    contamViaBloom = false)
  private def isBenchmark = col("doc_id") % 97 === 0

  /** One funnel pass and one per-stage pass, both traced; checks that
    * the export manifest holds exactly the funnel's survivors. */
  def run(ctx: Ctx, report: Report): Result = {
    val t = ctx.tracer
    val docs = t.span("funnel.corpus")(corpus(ctx, ctx.dir("funnel/corpus")))
    val nDocs = docs.count()
    val ((counts, manifest), s) = Stats.time {
      val verdicts = CorpusPipeline.withVerdicts(docs, "doc_id", "text", isBenchmark, cfg)
      val f = t.span("CorpusPipeline.funnel")(CorpusPipeline.funnel(verdicts).collect()(0))
      val m = t.span("CorpusPipeline.materialize") {
        CorpusPipeline.materialize(verdicts, "doc_id", ctx.dir("funnel/shards"), cfg).collect()
      }
      (f, m)
    }
    val lastAfter = counts.schema.fieldNames.filter(_.startsWith("after_")).last
    val shipped = manifest.map(_.getAs[Long]("n_rows")).sum
    report.check("funnel manifest rows = last after_* count",
      shipped == counts.getAs[Long](lastAfter) && shipped > 0,
      s"manifest=$shipped funnel=" + counts.schema.fieldNames.map(f => s"$f:${counts.getAs[Long](f)}").mkString(" "))

    // the stages again, one public call each, each materialised
    def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()
    val annotated = t.span("TextAnalysis.annotate") {
      TextAnalysis.withRepetition(TextAnalysis.withQuality(TextAnalysis.withLangId(
          TextAnalysis.c4LineCleanText(docs.filter(!isBenchmark), "text",
            minWords = cfg.lineMinWords, requireTerminalPunct = false),
          "text_clean"), "text_clean"), "text_clean")
        .localCheckpoint(eager = true)
    }
    val pairs = t.span("DedupApprox.minhashPairs") {
      DedupApprox.minhashPairs(annotated.select(col("doc_id"), col("text_clean")),
        "doc_id", "text_clean", threshold = cfg.dedupThreshold).localCheckpoint(eager = true)
    }
    t.span("Dedup.clusterVerdictsBy") {
      noop(Dedup.clusterVerdictsBy(annotated, "doc_id", pairs, col("q_n_tokens")))
    }
    t.span("Dedup.decontaminate") {
      noop(Dedup.decontaminate(docs, "doc_id", "text", isBenchmark, n = cfg.contamN))
    }
    val kept = CorpusPipeline.withVerdicts(docs, "doc_id", "text", isBenchmark, cfg)
      .filter(col("keep")).select(col("doc_id"), col("text_clean").as("text"))
      .localCheckpoint(eager = true)
    t.span("Export.writeShards") {
      Export.writeShards(kept, "doc_id", ctx.dir("funnel/stage-shards"), cfg.numShards)
    }
    Seq(annotated, pairs, kept).foreach(_.unpersist())
    Result(nDocs, s)
  }
}
