package pipebench

import org.apache.spark.sql.functions._

import graft.operators.{InvertedIndex, Search}
import graft.plans.CorpusPipeline

/** The search side of the reference (its Elasticsearch API) served
  * from the state the stream wrote: one client, closed loop, a fixed
  * seeded mix of index queries, sentiment aggregations and card reads.
  * It reads the files the stream appends, so a write-side layout
  * change that costs reads shows here.
  */
object SearchServe {

  /** Query kinds and their share of the mix; the kind is also the
    * span name. */
  val Mix: Seq[(String, Int)] = Seq(
    "InvertedIndex.topK" -> 30, "InvertedIndex.booleanQuery" -> 15,
    "InvertedIndex.phraseCount" -> 15, "Search.termsAgg" -> 10,
    "Search.bySentiment" -> 15, "CorpusPipeline.cardFromDirs" -> 15)

  private def term(r: java.util.SplittableRandom): String =
    Gen.vocab(38 + r.nextInt(600))

  /** Two adjacent words of a generated article's content. */
  private def phrase(ctx: Ctx, r: java.util.SplittableRandom): Seq[String] = {
    val a = Gen.article(ctx.seed, Gen.Feeds(r.nextInt(2)), r.nextInt(200).toLong)
    val ws = a.content.toLowerCase.split("[^a-z]+").filter(_.nonEmpty)
    val i = r.nextInt(ws.length - 1)
    Seq(ws(i), ws(i + 1))
  }

  /** Runs the query mix; returns (kind, seconds) per query. */
  def serve(ctx: Ctx, d: NewsPipeline.Dirs, report: Report): Seq[(String, Double)] = {
    val spark = ctx.spark
    val n = if (ctx.smoke) Mix.size else 2 * Mix.size
    val r = Gen.rng(ctx.seed, 77L)
    val total = Mix.map(_._2).sum
    val kinds = Seq.fill(n) {
      var u = r.nextInt(total)
      Mix.find { case (_, w) => u -= w; u < 0 }.get._1
    }
    // every kind at least once, so each per-kind figure has a sample
    val plan = (Mix.map(_._1) ++ kinds.drop(Mix.size)).take(n)
    val processed = spark.read.parquet(d.processed)
    val sentiments = Seq("positive", "negative", "neutral")
    plan.flatMap { kind =>
      val (res, s) = Stats.time(report.attempt(s"query $kind") {
        ctx.tracer.span(kind) {
          kind match {
            case "InvertedIndex.topK" =>
              InvertedIndex.topK(spark, d.index, Seq.fill(1 + r.nextInt(3))(term(r)), k = 10).collect()
            case "InvertedIndex.booleanQuery" =>
              InvertedIndex.booleanQuery(spark, d.index, Seq(term(r), term(r)), Seq(term(r)))
                .orderBy(col("tf_sum").desc, col("doc_id")).limit(10).collect()
            case "InvertedIndex.phraseCount" =>
              InvertedIndex.phraseCount(spark, d.index, phrase(ctx, r))
                .orderBy(col("n_phrase").desc, col("doc_id")).limit(10).collect()
            case "Search.termsAgg" =>
              Search.termsAgg(processed, "sentiment.overall").collect()
            case "Search.bySentiment" =>
              Search.bySentiment(processed, "sentiment.overall",
                sentiments(r.nextInt(3)), "article.publishedAt", "article.url", k = 10).collect()
            case "CorpusPipeline.cardFromDirs" =>
              CorpusPipeline.cardFromDirs(spark, d.card).collect()
          }
        }
      })
      res.map(_ => kind -> s)
    }
  }
}
