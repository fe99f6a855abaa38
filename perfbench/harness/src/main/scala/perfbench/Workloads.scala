package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkEntry
import graft.expr.VectorExprs
import graft.io.{Layout, Tables}
import graft.ops.{Embed, Pipeline, Rag, Similarity}

/** What a workload needs from the harness: the session, its seeded input
  * directory, a private work directory and the span recorder. */
final case class Ctx(spark: SparkSession, data: String, work: String,
    spans: Spans, meta: Map[String, Any]) {
  def metaLong(k: String): Long = meta(k) match {
    case n: BigInt => n.toLong
    case n: Number => n.longValue
    case o => o.toString.toLong
  }
}

/** A benchmark workload: set-up (timed into setup_s), then operations.
  * `op` runs ONE operation inside the caller's op span and keeps whatever
  * the correctness check needs; `flush` writes it out after timing ends. */
trait Workload {
  /** Set-up built from program code in every run (timed into setup_s). */
  def setup(ctx: Ctx): Unit = ()
  def warmupOps: Int
  /** Warm-up keeps going past `warmupOps` until this much time has passed. */
  def warmupSeconds: Double = 0.0
  /** An untraced run measures at least this many operations, even past
    * `--seconds`, so that its median has several samples. */
  def minMeasuredOps: Int = 1
  def op(ctx: Ctx, i: Int): Unit
  def flush(ctx: Ctx): Map[String, Any]
  def indexPath: String = ""
  /** Extra per-layer timings a traced run takes after the measured ops. */
  def stageProbes(ctx: Ctx): Map[String, Double] = Map.empty

  /** build → plan → execute for one frame; returns the collected rows. */
  protected def run(ctx: Ctx)(frame: => DataFrame): Array[Row] = {
    val df = ctx.spans.span("build", "build")(frame)
    ctx.spans.span("plan", "plan")(df.queryExecution.executedPlan)
    ctx.spans.span("execute", "execute")(df.collect())
  }
}

/** LSH resolution the way a deployment derives it: bits from the corpus
  * size, six tables of deterministic ±1 planes. */
object Lsh {
  val Tables = 6
  def apply(n: Long, dim: Int): (Array[Array[Double]], Int) = {
    val bits = Similarity.lshBitsFor(n)
    (VectorExprs.rademacherPlanes(Tables * bits, dim, 42L), bits)
  }
}

/** The paper's two uses in one workload. Set-up is the batch pipeline
  * (stages 2–6) over seeded raw platform tables, in the spelling of
  * `Queries6.q83PipelineWith`: normalize, clean, enrich and merge, land the
  * merged table through `io`, cluster the survivors' embeddings and write
  * the cluster-labelled IVF index. Each operation is then one closed-loop
  * question (stage 7) against that index and table. */
final class RagServe(work: String) extends Workload {
  val warmupOps = 10
  override val warmupSeconds = 14.0
  val mergedPath = s"$work/merged"
  override val indexPath: String = s"$work/ivf_index"
  private val answers = mutable.ArrayBuffer[String]()
  private var questions: Array[(Long, Array[Float], String)] = Array.empty
  private val qSchema = StructType(Seq(StructField("qvec", ArrayType(FloatType, containsNull = false))))

  /** Normalized raw tables → cleaned → enriched, per platform. */
  def stages(ctx: Ctx): (Seq[DataFrame], Seq[DataFrame], DataFrame) = {
    val t = Tables.load(ctx.spark, ctx.data, _: String)
    val redditPosts = Pipeline.normalizePosts("reddit", Map(
      "community" -> col("subreddit"), "id_post" -> col("id"),
      "title" -> col("title"), "body" -> col("selftext"),
      "score" -> col("score"), "num_comments" -> col("num_comments")))(t("reddit_posts"))
    val redditComments = Pipeline.normalizeComments(Map(
      "id_comment" -> col("cid"), "body" -> col("text"), "score" -> col("cscore"),
      "parent_post_id" -> col("parent")))(t("reddit_comments"))
    val stackPosts = Pipeline.normalizePosts("stack", Map(
      "community" -> col("site"), "id_post" -> col("question_id"),
      "title" -> col("title"), "body" -> col("qbody"),
      "score" -> col("score"), "num_comments" -> col("answer_count")))(t("stack_posts"))
    val stackComments = Pipeline.normalizeComments(Map(
      "id_comment" -> col("answer_id"), "body" -> col("abody"), "score" -> col("ascore"),
      "parent_post_id" -> col("parent")))(t("stack_comments"))
    val cleaned = Seq(Pipeline.cleanPosts(2)(redditPosts), Pipeline.cleanComments(20)(redditComments),
      Pipeline.cleanPosts(2)(stackPosts), Pipeline.cleanComments(20, stripHtml = true)(stackComments))
    val enriched = Seq(Pipeline.enrich(cleaned(0), cleaned(1)), Pipeline.enrich(cleaned(2), cleaned(3)))
    (cleaned, enriched, Pipeline.merge(enriched: _*))
  }

  private def docs(ctx: Ctx): DataFrame =
    ctx.spark.read.parquet(mergedPath).withColumn("vid", col("id_post").cast("long"))

  override def setup(ctx: Ctx): Unit = {
    val spans = ctx.spans
    spans.span("merge", "step") {
      val merged = spans.span("build", "build")(stages(ctx)._3)
      spans.span("execute", "execute")(Layout.writeRangeSorted(merged, mergedPath, "id_post", 4))
    }
    spans.span("index", "step") {
      val index = spans.span("build", "build") {
        val emb = Tables.embeddings(ctx.spark, ctx.data)
        val kept = emb.join(docs(ctx).select(col("vid")), col("vec_id") === col("vid"), "left_semi")
        val (planes, bits) = Lsh(ctx.metaLong("n_vectors"), ctx.metaLong("dim").toInt)
        val clustered = Embed.densityClusters(kept, "vec_id", "embedding",
          planes, bits, threshold = 0.3, minClusterSize = 5)
        kept.join(clustered.select(col("vec_id"), col("cluster")), "vec_id")
      }
      spans.span("execute", "execute")(Similarity.writeIvfIndex(index, "cluster", indexPath))
    }
    questions = Tables.load(ctx.spark, ctx.data, "questions").orderBy("qid").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray, r.getString(2)))
  }

  def op(ctx: Ctx, i: Int): Unit = {
    val (qid, vec, text) = questions(i % questions.length)
    val rows = run(ctx) {
      val index = Similarity.readIvfIndex(ctx.spark, indexPath)
      val q = ctx.spark.createDataFrame(java.util.List.of(Row(vec.toSeq)), qSchema)
      val context = Rag.contextDocs(index, "vec_id", "embedding", "cluster",
        docs(ctx), "vid", q, threshold = 0.2, cap = 20, noiseLabel = Some(-1L))
      Rag.assemblePrompt(context, "vid", "body", text)
    }
    answers += Json.render(Map("op" -> i, "qid" -> qid, "prompt" -> rows.head.getString(0)))
  }

  /** Cost of each pipeline stage with its inputs already in memory: the
    * cleaned tables from raw, the enriched ones from cached cleaned tables,
    * the merged one from cached enriched tables, each computed in full to a
    * no-op sink. Traced runs only, outside every operation. */
  override def stageProbes(ctx: Ctx): Map[String, Double] = {
    def time(dfs: Seq[DataFrame]): Double = {
      val t0 = System.nanoTime()
      dfs.foreach(_.write.format("noop").mode("overwrite").save())
      (System.nanoTime() - t0) / 1e9
    }
    val (cleaned, enriched, merged) = stages(ctx)
    cleaned.foreach(_.cache())
    val c = time(cleaned)
    enriched.foreach(_.cache())
    val e = time(enriched)
    val m = time(Seq(merged))
    (cleaned ++ enriched).foreach(_.unpersist(blocking = true))
    Map("ops.Pipeline.clean_s" -> c, "ops.Pipeline.enrich_s" -> e, "ops.Pipeline.merge_s" -> m)
  }

  def flush(ctx: Ctx): Map[String, Any] = {
    val (planes, bits) = Lsh(ctx.metaLong("n_vectors"), ctx.metaLong("dim").toInt)
    Files.write(Paths.get(s"$work/answers.jsonl"), answers.mkString("", "\n", "\n").getBytes(UTF_8))
    Map("index" -> indexPath, "merged" -> mergedPath, "answers" -> s"$work/answers.jsonl",
      "lsh_bits" -> bits,
      "pairs_cte" -> graft.Queries3.rpPairsCte("kept", simThreshold = 0.3, planes, bits))
  }
}

/** One pass computing the full output of four registered curation
  * queries, one per engine module: `ops.Vocab` (q199), `ops.Components`
  * (q52), `ops.Dedup` (q268) and `ops.Retrieval` (q142). */
final class CurationMix(work: String) extends Workload {
  val warmupOps = 2
  override val minMeasuredOps = 2
  val queries: Seq[String] = Seq("q199_greedy_coverage", "q52_dedup_clusters",
    "q268_weighted_minhash_lsh", "q142_passage_retrieval")
  // distinct outputs per query (rows fingerprint → rows), and which op saw which
  private val outputs = mutable.LinkedHashMap[(String, String), (StructType, Array[Row])]()
  private val seen = mutable.ArrayBuffer[Map[String, Any]]()

  def op(ctx: Ctx, i: Int): Unit = queries.foreach { q =>
    val rows = ctx.spans.span(q, "step")(run(ctx)(SparkEntry.queries(q)(ctx.spark, ctx.data)))
    val schema = if (rows.nonEmpty) rows.head.schema else null
    val fp = Json.md5(rows.map(_.toString).sorted.mkString("\n"))
    if (!outputs.contains((q, fp))) outputs((q, fp)) = (schema, rows)
    seen += Map("op" -> i, "query" -> q, "fp" -> fp, "rows" -> rows.length)
  }

  def flush(ctx: Ctx): Map[String, Any] = {
    val written = outputs.map { case ((q, fp), (schema, rows)) =>
      val path = s"$work/out/$q/$fp"
      if (schema != null)
        ctx.spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.mode("overwrite").parquet(path)
      Map("query" -> q, "fp" -> fp, "path" -> (if (schema != null) path else ""))
    }.toSeq
    Map("outputs" -> written, "seen" -> seen.toSeq,
      "oracle_sql" -> queries.map(q => q -> SparkEntry.oracleSql(q)).toMap)
  }
}
