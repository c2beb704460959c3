package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions.normalizeText
import graft.operators.Dedup
import graft.sources.{Warc, WarcFile}

final case class CrawlInput(docs: IndexedSeq[Doc], ref: Reference.Crawl, dir: File, bytes: Long)

object CrawlBench {
  /** Generate the corpus, write it as WET files and compute the truth. */
  def prepare(p: Params, seed: Long, work: File): CrawlInput = {
    val gen = new CrawlGen(p, seed)
    val docs = gen.docs()
    val ref = Reference.crawl(docs, p.double("jaccard_threshold"), p.double("random_pair_jaccard_max"))
    val dir = new File(work, "wet")
    val bytes = gen.writeWet(dir, docs)
    CrawlInput(docs, ref, dir, bytes)
  }

  /** The warm-up corpus: a full-size corpus from a fixed seed, so every
    * run's set-up does the same work whatever its seed, and the timed jobs
    * start with the job's code paths compiled. */
  def warmDir(p: Params, work: File): File = {
    val gen = new CrawlGen(p, 0L)
    val d = new File(work, "wet-warm")
    gen.writeWet(d, gen.docs())
    d
  }
}

/**
 * The crawl-dedup batch job: WET bytes → `Warc.records` → `normalizeText`
 * → `Dedup.exactKept` → `Dedup.keepBestPerCluster` (MinHash-LSH,
 * connected components, ranking by text length).
 */
final class CrawlBench(spark: SparkSession, p: Params) {
  import spark.implicits._

  /** Records keep their whole text: every generated document is shorter. */
  private val headBytes = 1 << 16

  private def files(dir: File) =
    spark.read.format("binaryFile").load(dir.getPath)
      .select(regexp_extract(col("path"), "wet-(\\d+)", 1).cast("long").as("file_id"),
        col("content").as("payload"))
      .as[WarcFile]

  private def docsOf(records: DataFrame): DataFrame =
    records.filter(col("warc_type") === "conversion")
      .select(regexp_extract(col("target_uri"), "/doc/(\\d+)$", 1).cast("long").as("doc_id"),
        normalizeText(col("body_head")).as("text"))

  private def keepBest(exact: DataFrame): DataFrame =
    Dedup.keepBestPerCluster(exact, "text", "doc_id", length(col("text")))

  /** The job as a user runs it: one plan, one action. Returns kept ids. */
  def job(dir: File): Set[Long] = {
    val records = Warc.records(files(dir), headBytes).toDF()
    val exact = Dedup.exactKept(docsOf(records), "text", "doc_id")
    keepBest(exact).select("doc_id").as[Long].collect().toSet
  }

  /** The same job with each layer's output materialised at its boundary,
    * so each span covers that layer's execution. Returns kept ids and the
    * per-layer metrics. */
  def tracedJob(in: CrawlInput, tr: Tracer): (Set[Long], Seq[Metric]) = {
    val sc = spark.sparkContext
    val canon = in.docs.map(d => d.id -> d.canon).toMap
    def held(df: DataFrame): (DataFrame, Long) = { val c = df.persist(); (c, c.count()) }
    val ((records, nRecords), parseS) = tr.span(sc, "sources.parse")(held(Warc.records(files(in.dir), headBytes).toDF()))
    val ((docs, _), normS) = tr.span(sc, "functions.normalize")(held(docsOf(records)))
    val ((exact, _), exactS) = tr.span(sc, "operators.exact")(held(Dedup.exactKept(docs, "text", "doc_id")))
    val (pairs, lshS) = tr.span(sc, "operators.lsh") {
      Dedup.minhashCandidatePairs(exact, "text", "doc_id").as[(Long, Long)].collect().toSeq
    }
    val threshold = p.double("jaccard_threshold")
    val verified = pairs.count { case (a, b) =>
      Reference.jaccard(Reference.shingles(canon(a)), Reference.shingles(canon(b))) >= threshold
    }
    val (clusters, ccS) = tr.span(sc, "operators.cc") {
      Dedup.connectedComponents(pairs.toDF("a_id", "b_id")).select("cluster").distinct().count()
    }
    val (kept, keepS) = tr.span(sc, "operators.keep_best") {
      keepBest(exact).select("doc_id").as[Long].collect().toSet
    }
    Seq(records, docs, exact).foreach(_.unpersist())
    org.apache.spark.BenchBus.drain(sc)
    val mb = in.bytes / 1048576.0
    (kept, Seq(
      Metric("sources.parse_s", parseS, "s"),
      Metric("sources.records", nRecords.toDouble, "count"),
      Metric("sources.input_mb", mb, "MB"),
      Metric("sources.mb_per_s", mb / parseS, "MB/s"),
      Metric("functions.normalize_s", normS, "s"),
      Metric("operators.exact_s", exactS, "s"),
      Metric("operators.lsh_s", lshS, "s"),
      Metric("operators.candidate_pairs", pairs.length.toDouble, "count"),
      Metric("operators.verified_pairs", verified.toDouble, "count"),
      Metric("operators.pair_precision", if (pairs.isEmpty) 0.0 else verified.toDouble / pairs.length, "ratio"),
      Metric("operators.cc_s", ccS, "s"),
      Metric("operators.cc_jobs", tr.countsOf("operators.cc").jobs.toDouble, "count"),
      Metric("operators.keep_best_s", keepS, "s"),
      Metric("operators.clusters", clusters.toDouble, "count")))
  }

  /** (attempted, failed) decisions of one job against the planted truth,
    * and the share of planted droppable documents it dropped. A planted
    * duplicate the job keeps (a near-duplicate pair MinHash-LSH missed)
    * lowers that share; only a document dropped that the truth keeps, or
    * an id not in the input, counts as failed. */
  def check(in: CrawlInput, kept: Set[Long]): (Long, Long, Double) = {
    val ids = in.docs.map(_.id)
    val idSet = ids.toSet
    val wronglyDropped = ids.filter(id => in.ref.kept.contains(id) && !kept.contains(id))
    val wrong = wronglyDropped.length + kept.count(id => !idSet.contains(id))
    if (wrong > 0) {
      System.err.println(s"perfbench: crawl_dedup check: $wrong wrong decisions, e.g. " +
        wronglyDropped.take(5).map { id =>
          s"doc $id (cluster ${in.docs.find(_.id == id).get.group}, dropped)"
        }.mkString(", "))
    }
    val missed = in.ref.droppable.count(kept.contains)
    if (missed > 0)
      System.err.println(s"perfbench: crawl_dedup kept $missed planted duplicates")
    val dropped = in.ref.droppable.size - missed
    (ids.length.toLong, wrong.toLong,
      if (in.ref.droppable.isEmpty) 1.0 else dropped.toDouble / in.ref.droppable.size)
  }
}
