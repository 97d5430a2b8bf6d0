package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.util.Random

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.json4s.JsonDSL._
import org.json4s.jackson.JsonMethods

import graft.Queries

/** curate_corpus: a fixed set of `Queries.registry` rows from the dedup,
  * text, governance and sim families, run in a fixed cycle over a corpus
  * generated from the seed in the shape of the `documents` and
  * `embeddings` tables. None of the chosen rows needs a
  * `Queries.fixtures` entry. Results are compared with each row's DuckDB
  * oracle by `run.py` after the run.
  */
final class CurateCorpus(ctx: Ctx) extends Workload(ctx) {
  private val spark = ctx.spark
  private var dir = ""
  private val rows = CurateCorpus.Rows.map(n =>
    Queries.registry.find(_.name == n._1).getOrElse(sys.error(s"no registry row $n")) -> n._2)

  def setupReps: Int = 3

  /** Each rep writes the corpus to a directory of its own and runs every
    * row once on it as warm-up; the last rep's corpus serves the timed
    * phase.
    */
  def setup(rep: Int): Unit = {
    dir = ctx.work.resolve(s"corpus-r$rep").toString
    CurateCorpus.writeCorpus(spark, dir, ctx.seed)
    rows.foreach { case (q, _) => run(q) }
  }

  private def run(q: Queries.QueryDef): Unit =
    q.query(spark, dir).write.format("noop").mode("overwrite").save()

  def next(i: Int): Op = {
    val (q, family) = rows(i % rows.size)
    Op("read", q.name, () => {
      ctx.tracer.call("operators", family)(run(q))()
      OpOut()
    })
  }

  /** Dump each row's result, its oracle SQL and the corpus location for
    * `run.py`.
    */
  def verify(): Seq[Check] = {
    val out = ctx.work.resolve("oracle")
    Files.createDirectories(out)
    rows.foreach { case (q, _) =>
      q.query(spark, dir).coalesce(1).write.mode("overwrite")
        .parquet(out.resolve(q.name).toString)
    }
    val dump = ("corpus" -> dir) ~
      ("sql" -> rows.map { case (q, _) => q.name -> q.oracle.get }.toMap)
    Files.write(out.resolve("oracle_sql.json"),
      JsonMethods.compact(JsonMethods.render(dump)).getBytes(StandardCharsets.UTF_8))
    Seq.empty
  }

  def state(): Map[String, Double] = Map.empty
}

object CurateCorpus {
  /** (registry row, family) — one to two rows per family. */
  val Rows: Seq[(String, String)] = Seq(
    "dedup_exact" -> "dedup", "dedup_ngram" -> "dedup",
    "text_token_count" -> "text", "text_quality" -> "text",
    "pipeline_split_assign" -> "governance", "text_top_ngrams" -> "governance",
    "embedding_centroid_sim" -> "sim", "sim_topk_bruteforce" -> "sim")

  private val words = Vector("a", "the", "key", "agg", "row", "scan", "slow",
    "fast", "table", "value", "part", "hash", "merge", "batch", "spark",
    "line", "sort", "window", "order", "data", "column", "join", "small",
    "customer", "query", "big", "filter", "group", "stream", "vector")
  private val langs = Vector("en", "en", "en", "es", "fr", "de", "zh")

  /** `documents.parquet` and `embeddings.parquet` under `dir`. */
  def writeCorpus(spark: org.apache.spark.sql.SparkSession, dir: String,
      seed: Long, docs: Int = 1200, vecs: Int = 500): Unit = {
    val r = new Random(seed)
    val docRows = (0 until docs).map { i =>
      val text = Seq.fill(20 + r.nextInt(60))(words(r.nextInt(words.size))).mkString(" ")
      Row(i.toLong, text, langs(r.nextInt(langs.size)), s"src${r.nextInt(20)}",
        text.length.toLong)
    }
    val docSchema = StructType(Seq(StructField("doc_id", LongType),
      StructField("text", StringType), StructField("lang", StringType),
      StructField("source", StringType), StructField("n_chars", LongType)))
    spark.createDataFrame(java.util.Arrays.asList(docRows: _*), docSchema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val vecRows = (0 until vecs).map { i =>
      Row(i.toLong, Seq.fill(64)((r.nextGaussian() * 0.1).toFloat), r.nextInt(4))
    }
    val vecSchema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType)),
      StructField("label", IntegerType)))
    spark.createDataFrame(java.util.Arrays.asList(vecRows: _*), vecSchema)
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
  }
}
