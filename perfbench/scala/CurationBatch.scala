package perfbench

import graft.SparkEntry
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.collection.mutable

/** Read-only batch curation: one op is one pass over ten `SparkEntry`
  * queries, in a seeded order, over a seeded documents/embeddings corpus,
  * each result fully materialized. Each query's first result is kept as
  * the reference (written out for the DuckDB oracle, which runs after the
  * JVM exits); every later result must hash to the same digest. A traced
  * run then admits days of the same corpus into the four stores
  * (`StoreDays`): the incremental twins of q37, q76 and q88. */
final class CurationBatch(spark: SparkSession, a: Args, tracer: Tracer)
    extends Workload {
  import CurationBatch._

  // a pass costs the same at 30 documents as at 300 (planning and job
  // launches, not rows); the corpus size sets the DuckDB oracle's time
  val nDocs = 150
  val nVecs = 100
  val warmupOps = 1
  val countedOps = 1
  // a warm set-up is two small writes, half a second: its median needs
  // more rounds than the crime history's
  override def setUpRounds: Int = 5

  private val data = s"${a.work}/curation/data"
  private val refDir = s"${a.work}/curation/reference"
  private val order: Seq[String] = {
    val r = new scala.util.Random(a.seed)
    r.shuffle(Queries)
  }
  private val reference = mutable.Map[String, Long]()

  /** Writes the seeded corpus (the same rows in every set-up round). */
  def setUp(round: Int): Unit = {
    import spark.implicits._
    val docs = new DocGen(a.seed).rows(nDocs, 0, 1).map { case (id, text, _) =>
      (id, text, Langs((id % Langs.size).toInt), s"src${id % 20}", text.length.toLong)
    }
    docs.toDF("doc_id", "text", "lang", "source", "n_chars").coalesce(1)
      .write.mode("overwrite").parquet(s"$data/documents.parquet")
    val labels = new java.util.Random(a.seed)
    new VecGen(a.seed).rows(nVecs, 0, 1)
      .map { case (id, v, _) => (id, v, labels.nextInt(10)) }
      .toDF("vec_id", "embedding", "label").coalesce(1)
      .write.mode("overwrite").parquet(s"$data/embeddings.parquet")
  }

  /** One pass over the ten queries: the pass, not the query, is the op,
    * because the median of a ten-way mix of query costs moves with the
    * order the window happens to cut. */
  def op(i: Int, t: Tracer): OpOutcome = {
    val results = order.map { q =>
      t.span(s"operators.$q") {
        val df = SparkEntry.queries(q)(spark, data)
        (q, df.schema, df.collect())
      }
    }
    OpOutcome(order.map(inputRowsOf).sum, s"pass$i",
      () => results.forall { case (q, schema, rows) => check(q, schema, rows) })
  }

  private def check(q: String, schema: StructType, rows: Array[Row]): Boolean = {
    val d = digest(schema.fieldNames.toSeq, rows)
    reference.get(q) match {
      case None =>
        reference(q) = d
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
          .coalesce(1).write.parquet(s"$refDir/$q")
        true
      case Some(want) =>
        val ok = d == want + (if (a.corruptExpected) 1 else 0)
        if (!ok) System.err.println(s"[perfbench] curation_batch: $q result changed")
        ok
    }
  }

  /** Rows the query reads: the documents or the embeddings table. */
  private def inputRowsOf(q: String): Long =
    if (Set("q17_cosine_topk", "q56_ann_ivfpq")(q)) nVecs else nDocs

  /** Columns in name order, each row rendered and hashed, summed. */
  private def digest(names: Seq[String], rows: Array[Row]): Long = {
    val idx = names.zipWithIndex.sortBy(_._1).map(_._2)
    rows.iterator.map(r => Digest.of(idx.map(j => render(r.get(j))): _*)).sum
  }

  private def render(v: Any): String = v match {
    case null => "null"
    case a: Array[Byte] => a.mkString("b[", ",", "]")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case r: Row => r.toSeq.map(render).mkString("{", ",", "}")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted
        .mkString("{", ",", "}")
    case x => x.toString
  }

  /** In a traced run, the stores' days over the same corpus. */
  private val stores =
    if (a.trace) Some(new StoreDays(spark, a, tracer, nDocs, nVecs)) else None

  override def finalCheck(): Boolean = {
    // the queries and their oracle SQL, for the DuckDB check after exit
    val sql = Queries.map(q => q -> SparkEntry.oracleSql(q)).toMap
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"${a.work}/curation/oracle_sql.json"), Json.render(sql))
    val t0 = System.nanoTime()
    val ok = stores.forall(_.run(firstOp = StoreOps))
    storesS = (System.nanoTime() - t0) / 1e9
    ok
  }
  private var storesS = 0.0

  def layerMetrics(t: Tracer, counted: Seq[Span]): Map[String, Double] = {
    val inOps = counted.map(_.op).toSet
    Queries.flatMap { q =>
      val spans = t.named(s"operators.$q").filter(s => inOps(s.op))
      Seq(s"operators.${q}_s.p50" -> Stats.median(spans.map(_.seconds)),
        s"operators.$q.jobs" -> Stats.median(spans.map(t.jobsOf(_).size.toDouble)))
    }.toMap ++ stores.fold(Map.empty[String, Double])(_.layerMetrics)
  }

  override def meta: Map[String, Any] = Map(
    "input_sizes" -> Map("documents" -> nDocs, "embeddings" -> nVecs),
    "query_order" -> order,
    "reference_dir" -> refDir,
    "data_dir" -> data,
    "stores_s" -> storesS) ++ stores.fold(Map.empty[String, Any])(_.meta)
}

object CurationBatch {
  val Queries: Seq[String] = Seq("q8_quality_score", "q12_minhash_sig",
    "q13_lsh_pairs", "q14_jaccard_pairs", "q17_cosine_topk", "q37_dup_clusters",
    "q56_ann_ivfpq", "q64_bpe_pack", "q76_substring_dedup",
    "q88_cms_heavy_hitters")
  val Langs = Seq("en", "en", "en", "zh", "de", "fr", "es")
  /** Op numbers of the stores' admissions, clear of the passes'. */
  val StoreOps = 1000000
}
