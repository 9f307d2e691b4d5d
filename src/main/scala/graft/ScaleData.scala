package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic 10× replication of a testdata SF dir, for the scale probe
  * (BENCH_SCALE.md): `runMain graft.ScaleData [srcDir] [outDir] [reps]`.
  *
  * Replica r offsets every key space by r * (max_key + 1), so referential
  * integrity holds within each replica (orders↔lineitem↔supplier↔customer↔
  * part joins land exactly as in the base data) and key spaces never collide
  * across replicas. region/nation are shared dimensions and stay single-copy
  * (nationkey columns are not offset).
  *
  * Content columns are perturbed per replica so data DENSITIES scale the way
  * a real 10× corpus would, instead of every row gaining 9 identical twins:
  *  - documents.text is letter-rotated (codegen'd `translate`, replica 0 =
  *    identity) — token/shingle distributions keep their in-replica shape,
  *    but replicas are not near-duplicates of each other, so dedup pair
  *    density stays that of the base corpus;
  *  - embeddings.embedding is cyclically shifted by r positions (a
  *    norm-preserving permutation) so ANN neighborhoods don't become
  *    10-way exact ties.
  * Everything is a pure column function of the source rows — no rand(), so
  * the synthesized data is bit-identical across runs.
  */
object ScaleData {

  val lower = "abcdefghijklmnopqrstuvwxyz"
  val upper: String = lower.toUpperCase
  private def rot(s: String, r: Int) = s.drop(r % s.length) + s.take(r % s.length)

  /** Replica count the transform families are spec-certified for: ScaleDataSpec
    * proves pairwise-distinct letter bijections (with a low letter-agreement
    * bound) AND pairwise-distinct embedding transforms over `0 until maxReps`.
    * Raising this only requires re-running the spec — the families themselves
    * are unbounded.
    */
  val maxReps = 416

  /** SplitMix64 — the public-domain mixer (Steele et al., JDK
    * `SplittableRandom`); used to seed per-replica deterministic shuffles
    * and sign masks so every replica transform is a pure function of r.
    */
  private def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Distinct letter bijections so up to [[maxReps]] replicas stay pairwise
    * non-near-duplicate.
    *
    * r < 104: rotation × case-swap × reversal — byte-identical to the maps
    * that generated the previously measured sf1/sf10 artifacts, so those
    * remain reproducible bit-for-bit (r < 26 is the plain rotation of the
    * original sf1 generation).
    *
    * r ≥ 104: a seeded Fisher–Yates shuffle of the alphabet (SplitMix64
    * stream keyed by r). Two shuffled maps agree on ~1 letter in
    * expectation, and a shingle survives a map change only if EVERY letter
    * in it is a fixed point — (agree/26)^len, negligible — so cross-replica
    * shingle/near-dup density stays that of the base corpus. Distinctness,
    * identity-at-0, and the pairwise agreement bound are spec-gated
    * (ScaleDataSpec) over `0 until maxReps`.
    */
  def perm(r: Int): String = {
    if (r < 104) {
      val (lo, up) = (rot(lower, r % 26), rot(upper, r % 26))
      (r / 26) % 4 match {
        case 0 => lo + up
        case 1 => up + lo
        case 2 => lo.reverse + up.reverse
        case _ => up.reverse + lo.reverse
      }
    } else {
      val arr = lower.toCharArray
      var s = r.toLong * 0xD1B54A32D192ED03L
      for (i <- 25 to 1 by -1) {
        s = mix64(s)
        val j = java.lang.Math.floorMod(s, (i + 1).toLong).toInt
        val t = arr(i); arr(i) = arr(j); arr(j) = t
      }
      val lo = new String(arr)
      lo + lo.toUpperCase
    }
  }

  /** Per-replica embedding transform parameters: (cyclic shift, per-dim ±1
    * sign mask) — both norm-preserving, replica 0 the identity.
    *
    * r < 128: the original family (shift r mod 64; one GLOBAL sign flip once
    * the shifts wrap) — byte-identical to the sf1/sf10 generation.
    *
    * r ≥ 128: the shift composes with a per-dimension sign mask drawn from
    * SplitMix64(r)'s 64 bits, giving 2^64 masks per shift — transforms stay
    * pairwise distinct far past [[maxReps]] (spec-gated over the certified
    * range) and replica neighborhoods stay non-degenerate.
    */
  def embTransform(r: Int, dim: Int = 64): (Int, Array[Int]) = {
    val k = r % dim
    if (r < 128) {
      val sign = if ((r / 64) % 2 == 1) -1 else 1
      (k, Array.fill(dim)(sign))
    } else {
      val bits = mix64(r.toLong * 0x2545F4914F6CDD1DL)
      (k, Array.tabulate(dim)(i => if (((bits >>> (i % 64)) & 1L) == 1L) -1 else 1))
    }
  }

  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("scaledata/sf1")
    val reps = args.lift(2).map(_.toInt).getOrElse(10)
    // The transform families are unbounded, but distinctness (the density
    // property BENCH_SCALE.md rests on) is only spec-PROVED up to maxReps;
    // past it, replicas could silently reuse maps and become exact
    // near-duplicates. Extend ScaleDataSpec's certified range before raising.
    require(reps <= maxReps,
      s"reps=$reps exceeds the $maxReps spec-certified distinct transforms")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val spark = GraftSession.build("graft-scaledata", cpus.toInt)
    // events.ts is parquet TIMESTAMP(NANOS) (see Tables.events): the
    // session reads the nanos as a raw long and they are written back as
    // BIGINT — Tables.events' `ts div 1000` accepts either representation

    def table(t: String): DataFrame = Tables.read(spark, src, t)
    def keySpan(t: String, c: String): Long =
      table(t).agg(max(col(c))).head().getLong(0) + 1L

    val ok = keySpan("orders", "o_orderkey")
    val ck = keySpan("customer", "c_custkey")
    val sk = keySpan("supplier", "s_suppkey")
    val pk = keySpan("part", "p_partkey")
    val dk = keySpan("documents", "doc_id")
    val vk = keySpan("embeddings", "vec_id")
    val ek = keySpan("events", "event_id")
    val uk = keySpan("events", "user_id")

    // per-replica transform of each table; offsets are (column -> span)
    def replicate(t: String, offsets: Map[String, Long],
                  perturb: (DataFrame, Int) => DataFrame = (df, _) => df,
                  parts: Int = 32): Unit = {
      val base = table(t)
      val rep = (0 until reps).map { r =>
        val shifted = offsets.foldLeft(base) { case (df, (c, span)) =>
          df.withColumn(c, col(c) + lit(r * span))
        }
        perturb(shifted, r)
      }.reduce(_ unionByName _)
      rep.repartition(parts).write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaledata] $t: ${reps}x written")
    }

    // shared dims: single copy
    Seq("region", "nation").foreach { t =>
      table(t).coalesce(1).write.mode("overwrite").parquet(s"$out/$t.parquet")
      println(s"[scaledata] $t: copied")
    }

    replicate("customer", Map("c_custkey" -> ck), parts = 8)
    replicate("supplier", Map("s_suppkey" -> sk), parts = 4)
    replicate("part", Map("p_partkey" -> pk), parts = 8)
    replicate("orders", Map("o_orderkey" -> ok, "o_custkey" -> ck))
    replicate("lineitem",
      Map("l_orderkey" -> ok, "l_partkey" -> pk, "l_suppkey" -> sk))
    replicate("events", Map("event_id" -> ek, "user_id" -> uk))
    replicate("documents", Map("doc_id" -> dk), (df, r) =>
      df.withColumn("text", translate(col("text"), lower + upper, perm(r))),
      parts = 16)
    // cyclic shift by r mod dim composed with a sign mask (embTransform) —
    // both norm-preserving, so replica vectors stay distinct without
    // reshaping any neighborhood. r < 128 keeps the original expr verbatim
    // (bit-identical regeneration of the measured sf1/sf10 artifacts).
    replicate("embeddings", Map("vec_id" -> vk), (df, r) => {
      val (k, mask) = embTransform(r)
      val shifted =
        s"concat(slice(embedding, ${k + 1}, size(embedding) - $k), " +
          s"slice(embedding, 1, $k))"
      val ex =
        if (r < 128) {
          val sign = if (mask(0) < 0) "-x" else "x"
          s"transform($shifted, x -> $sign)"
        } else {
          val m = mask.mkString("array(", ", ", ")")
          s"zip_with($shifted, $m, (x, s) -> x * cast(s AS FLOAT))"
        }
      df.withColumn("embedding", expr(ex))
    }, parts = 8)

    spark.stop()
  }
}
