package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Materializes an N×-scaled replica of the driver testdata (VERDICT r8
  * item 5: "one full-suite bench at sf1") so `graft.Bench` can run the
  * ENTIRE query registry at 10× sf0.1.
  *
  * Replication is PERF-ONLY (no oracle at this scale) but honest:
  * every replica keeps the original's statistical shape and the
  * registry's derivation invariants, so each query does ~N× the work
  * of its sf0.1 run on the same code path:
  *
  *  - dimension tables (`region`, `nation`) copy unscaled — they are
  *    schema constants, exactly as TPC-H holds nations fixed across SF;
  *  - fact keys offset per replica WITHOUT breaking referential
  *    integrity: `o_custkey` and `c_custkey` shift together, lineitem's
  *    `(l_orderkey, l_partkey, l_suppkey)` shift with their parents,
  *    so join fan-outs match the original's;
  *  - `documents.doc_id` offsets by r·10⁴ and `embeddings.vec_id` by
  *    r·3·10³ — both keep ALL base ids < 10⁵, the invariant the
  *    registry's derived corpora rely on (`nearDupCorpus` plants
  *    mutants at id+10⁵; probe sets filter `id >= 10⁵`). A larger
  *    offset would misclassify whole replicas as probe rows and turn
  *    the ×N corpus into a ×N² query set — not a scale-up, a different
  *    workload;
  *  - `documents.text` letter-rotates per replica and `embeddings`
  *    cyclic-shift their dimension axis per replica (orthogonal, so
  *    intra-replica geometry — including planted-mutant margins — is
  *    preserved exactly while cross-replica vectors decorrelate):
  *    replicas contribute NEW content with the same shingle/geometry
  *    profile rather than multiplying every shingle's document
  *    frequency — or planting 10 near-duplicate decoys of every
  *    vector — by N;
  *  - `events` keeps its timestamps (a ×N-denser stream over the same
  *    wall-clock range — windows gain rows, not count) and offsets
  *    `user_id` so sessions never straddle replicas.
  *
  * Run:
  * {{{
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 SPARK_GRAFT_SCALE=10 \
  *     SPARK_GRAFT_SCALE_OUT=/tmp/graft-sf1 sbt "runMain graft.tools.ScaleUp"
  *   SPARK_GRAFT_SF_DIR=/tmp/graft-sf1 sbt "runMain graft.Bench"
  * }}}
  */
object ScaleUp {

  private val Letters = "abcdefghijklmnopqrstuvwxyz"

  /** N replicas of `df`, replica r transformed by `remap(r, df)`;
    * r = 0 is always the identity so every original row (and every
    * value a query filters on) survives verbatim.
    */
  private def replicate(df: DataFrame, factor: Int)(
      remap: (Int, DataFrame) => DataFrame): DataFrame =
    (0 until factor).map {
      case 0 => df
      case r => remap(r, df)
    }.reduce(_ unionByName _)

  private def shiftKeys(r: Int, df: DataFrame,
      offsets: (String, Long)*): DataFrame =
    offsets.foldLeft(df) { case (d, (c, per)) =>
      d.withColumn(c, col(c) + lit(r * per))
    }

  def scaledTables(spark: SparkSession, dir: String,
      factor: Int): Seq[(String, DataFrame)] = {
    def t(name: String) = graft.sources.Tables.load(spark, dir, name)
    val rot = (r: Int) =>
      Letters.drop(r % 26) + Letters.take(r % 26)
    Seq(
      "region" -> t("region"),
      "nation" -> t("nation"),
      "customer" -> replicate(t("customer"), factor)(
        shiftKeys(_, _, "c_custkey" -> 1000000L)),
      "supplier" -> replicate(t("supplier"), factor)(
        shiftKeys(_, _, "s_suppkey" -> 1000000L)),
      "part" -> replicate(t("part"), factor)(
        shiftKeys(_, _, "p_partkey" -> 1000000L)),
      "orders" -> replicate(t("orders"), factor)(
        shiftKeys(_, _, "o_orderkey" -> 10000000L, "o_custkey" -> 1000000L)),
      "lineitem" -> replicate(t("lineitem"), factor)(
        shiftKeys(_, _, "l_orderkey" -> 10000000L, "l_partkey" -> 1000000L,
          "l_suppkey" -> 1000000L)),
      // event_id steps by 10⁹, NOT 10⁷: two merge fixtures synthesize
      // not-matched populations at event_id + 10⁷, which must stay
      // disjoint from every replica's real ids
      "events" -> replicate(t("events"), factor)(
        shiftKeys(_, _, "event_id" -> 1000000000L, "user_id" -> 1000000L)),
      "documents" -> replicate(t("documents"), factor) { (r, d) =>
        shiftKeys(r, d, "doc_id" -> 10000L)
          .withColumn("text", translate(col("text"), Letters, rot(r)))
      },
      "embeddings" -> replicate(t("embeddings"), factor) { (r, d) =>
        // CYCLIC DIMENSION ROTATION, not jitter (r18): a permutation is
        // orthogonal, so every intra-replica distance/dot/norm — and
        // with them the planted-mutant margins the sim_* oracles rely
        // on — is preserved EXACTLY, while cross-replica vectors
        // decorrelate. The previous ±0.01 jitter left all N replicas
        // of a vector mutually τ-close: 10× near-duplicate decoys that
        // (a) broke the quantized top-k oracles at sf1 (a PQ cell is
        // coarser than the decoy gap, so the approximate answer picks
        // a different replica than the exact oracle — correct operator
        // behavior, ill-posed certification corpus) and (b) grew the
        // SemDeDup pair set ~N², violating this file's own "replicas
        // contribute NEW content" contract.
        shiftKeys(r, d, "vec_id" -> 3000L)
          .withColumn("embedding",
            when(lit(r % 64) === 0, col("embedding")).otherwise(
              concat(slice(col("embedding"), lit(r % 64 + 1),
                  size(col("embedding")) - lit(r % 64)),
                slice(col("embedding"), lit(1), lit(r % 64)))))
          // ...composed with a per-replica SIGN pattern (any diagonal
          // ±1 matrix is orthogonal): rotation alone aliases when the
          // generator's dimension profile is near-periodic, and the
          // rotation offset repeats every 64 replicas — the sign
          // pattern must therefore be DISTINCT per replica. The sign
          // comes from HIGH hash bits (shiftright 16), not the low
          // bit: with two odd multipliers the low bit reduces to
          // (i + r) mod 2 — only two patterns total, and replicas 64
          // apart applied the IDENTICAL transform, reintroducing
          // exact-duplicate decoys at factor > 64 (ADVICE r18). For
          // Δr = 64, Δ(r·40503) = 2,592,192 > 2¹⁶, so same-rotation
          // replicas always draw different high-bit sign patterns.
          .withColumn("embedding",
            if (r == 0) col("embedding")
            else transform(col("embedding"), (x, i) =>
              (x * when(pmod(shiftright(
                  i * 2654435761L + lit(r * 40503L), 16), lit(2)) === 0,
                lit(1.0f)).otherwise(lit(-1.0f))).cast("float")))
      })
  }

  def main(args: Array[String]): Unit = {
    val cfg = graft.config.GraftConfig.fromEnv(appName = "graft-scale-up")
    val spark = cfg.newSession()
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_OUT", "/tmp/graft-sf1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE", "10").toInt
    for ((name, df) <- scaledTables(spark, cfg.sfDir, factor)) {
      val t0 = System.nanoTime()
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")
      System.err.println(f"[scale-up] $name%s: ${(System.nanoTime() - t0) / 1e9}%.1f s")
    }
    println(s"""{"metric":"scale_up","factor":$factor,"out":"$out"}""")
    spark.stop()
  }
}
