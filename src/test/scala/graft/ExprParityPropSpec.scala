package graft

import scala.util.Random

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.TextFunctions
import graft.operators.Dedup

/** Property-style parity tests for the round-2 codegen expressions
  * against the built-in (interpreted) formulations they replaced, over
  * seeded random strings that deliberately include every Java-`\s`
  * whitespace char, unicode (CJK, accents, astral-plane emoji), and
  * degenerate shapes (empty, whitespace-only, single token). Hand-rolled
  * generator, same style as SchemaOpsPropSpec (no scalacheck bridge in
  * the offline cache).
  */
class ExprParityPropSpec extends AnyFunSuite {
  lazy val spark = TestSparkSession.spark
  import spark.implicits._

  private val atoms = Vector(
    "the", "a", "of", "and", "is", "word", "Wort", "mot", "X1",
    "42", "3", "!!", "?", ",", "é", "Ünïcødé", "中文", "的", "😀",
    "MiXeD", "snake_case", "x")
  private val wsChars = Vector(" ", "\t", "\n", "", "\f", "\r", "  ", " \t ")

  private def randomText(r: Random): String = {
    val n = r.nextInt(30)
    val sb = new StringBuilder
    if (r.nextInt(4) == 0) sb.append(wsChars(r.nextInt(wsChars.length)))
    for (_ <- 0 until n) {
      sb.append(atoms(r.nextInt(atoms.length)))
      sb.append(wsChars(r.nextInt(wsChars.length)))
    }
    if (r.nextInt(3) == 0 && sb.nonEmpty) sb.setLength(sb.length - 1)
    sb.toString
  }

  private lazy val corpus = {
    val r = new Random(123)
    val texts = Seq("", " ", "\t", "one") ++ (1 to 300).map(_ => randomText(r))
    texts.toDF("text")
  }

  test("WordShingles expression == HOF formulation on random unicode text") {
    import graft.functions.TextFunctions.normalText
    for (n <- Seq(1, 2, 3, 5)) {
      val toks = split(normalText(col("text")), " ")
      val viaHof = array_sort(array_distinct(
        when(size(toks) < n, array(concat_ws(" ", toks)))
          .otherwise(transform(sequence(lit(0), size(toks) - n),
            i => concat_ws(" ", slice(toks, i + 1, lit(n)))))))
      val bad = corpus.select(col("text"),
          array_sort(Dedup.wordShingles(col("text"), n)).as("fast"), viaHof.as("ref"))
        .filter(col("fast") =!= col("ref"))
      assert(bad.count() == 0,
        s"n=$n: " + bad.select("text").collect().take(3).mkString("; "))
    }
  }

  test("TextStats counts == regex formulations on random unicode text") {
    def refWs(c: org.apache.spark.sql.Column) =
      size(split(trim(c), "\\s+")).cast("long")
    def refBpe(c: org.apache.spark.sql.Column) =
      size(regexp_extract_all(lower(c), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).cast("long")
    def refPunct(c: org.apache.spark.sql.Column) =
      length(regexp_replace(lower(c), "[a-z0-9 ]", "")).cast("long")
    def refStop(c: org.apache.spark.sql.Column) =
      size(filter(split(trim(lower(c)), "\\s+"),
        t => t.isin(TextFunctions.Stopwords.map(lit): _*))).cast("long")
    val bad = corpus.select(col("text"),
        TextFunctions.wsTokenCount(col("text")).as("ws"), refWs(col("text")).as("ws_r"),
        TextFunctions.bpeishTokenCount(col("text")).as("bpe"), refBpe(col("text")).as("bpe_r"),
        TextFunctions.punctCount(col("text")).as("p"), refPunct(col("text")).as("p_r"),
        TextFunctions.stopwordCount(col("text")).as("s"), refStop(col("text")).as("s_r"))
      .filter(col("ws") =!= col("ws_r") || col("bpe") =!= col("bpe_r") ||
        col("p") =!= col("p_r") || col("s") =!= col("s_r"))
    assert(bad.count() == 0, bad.collect().take(3).mkString("; "))
  }

  test("LangId expression == contains-column formulation on random text") {
    import graft.functions.TextFunctions.{normalText, LangMarkers}
    def refLangId(c: org.apache.spark.sql.Column) = {
      val padded = concat(lit(" "), normalText(c), lit(" "))
      def score(ms: Seq[String]) =
        ms.map(m => when(padded.contains(m), 1).otherwise(0)).reduce(_ + _)
      val scores = LangMarkers.map { case (lang, ms) => lang -> score(ms) }
      val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
      scores.foldRight(lit("und"): org.apache.spark.sql.Column) {
        case ((lang, s), els) => when(s === best && s > 0, lang).otherwise(els)
      }
    }
    val bad = corpus.select(col("text"),
        TextFunctions.langId(col("text")).as("fast"),
        refLangId(col("text")).as("ref"))
      .filter(col("fast") =!= col("ref"))
    assert(bad.count() == 0, bad.collect().take(3).mkString("; "))
  }

  test("CosineSim expression == HOF fold bit-for-bit on random vectors") {
    import graft.functions.{CosineSim, VectorFunctions}
    // the documented HOF reference formulation stays the parity anchor
    def refCos(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      VectorFunctions.dot(a, b) /
        (VectorFunctions.norm(a) * VectorFunctions.norm(b))
    val r = new Random(9)
    val vecs = (1 to 200).map { i =>
      val d = 1 + r.nextInt(48)
      (Array.fill(d)(r.nextGaussian().toFloat),
        Array.fill(d)(r.nextGaussian().toFloat))
    }.toDF("a", "b")
    val bad = vecs.select(
        CosineSim.cosineSim(col("a"), col("b")).as("fast"),
        refCos(col("a"), col("b")).as("ref"))
      .filter(!(col("fast") <=> col("ref")))
    assert(bad.count() == 0, bad.collect().take(3).mkString("; "))
  }

  test("TwoLevelQuantize expression == flat ranking on random + tie-heavy vectors") {
    import graft.operators.Ivf
    val r = new Random(77)
    val dims = 8
    // tie-HEAVY corpus: components from {0, 1} force many exactly-equal
    // cosines, exercising the (sim desc, id asc) tie-break; a second
    // block of smooth random vectors covers the generic ordering
    def binVec(): Seq[Float] = {
      val v = Seq.fill(dims)(if (r.nextBoolean()) 1.0f else 0.0f)
      if (v.forall(_ == 0.0f)) v.updated(0, 1.0f) else v
    }
    def smoothVec(): Seq[Float] = Seq.fill(dims)(r.nextFloat() + 0.1f)
    val rows = (1 to 200).map(i =>
      (i.toLong, if (i <= 120) binVec() else smoothVec()))
    val df = rows.toDF("vec_id", "embedding")
    // model centroids from the same tie-heavy space (duplicates kept:
    // identical centroids are exactly the tie the id order must break)
    val model: Ivf.Model = (1 to 24).map(_ =>
      binVec().map(_.toDouble)).toIndexedSeq
    val tl = Ivf.twoLevel(model, groups = 5, nsuper = 5) // probe ALL
    val tlAll = tl.copy(nsuper = tl.supers.size)
    val flat = Ivf.FlatQuantizer(model)
    val bad = df.select(
        flat.probe(col("embedding"), 7).as("fp"),
        tlAll.probe(col("embedding"), 7).as("tp"),
        flat.assign(col("embedding")).as("fa"),
        tlAll.assign(col("embedding")).as("ta"),
        flat.bestSim(col("embedding")).as("fs"),
        tlAll.bestSim(col("embedding")).as("ts"))
      .filter(col("fp") =!= col("tp") || col("fa") =!= col("ta") ||
        col("fs") =!= col("ts"))
    assert(bad.count() == 0L,
      s"divergence: ${bad.take(3).mkString("; ")}")
  }
}
