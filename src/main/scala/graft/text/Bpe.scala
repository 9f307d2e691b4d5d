package graft.text

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Rounds

/** Byte-pair-encoding merge training (Sennrich et al. 2016) as relational
  * rounds — the tokenizer-training step of an LLM data pipeline.
  *
  * BPE trains on the WORD-COUNT VOCABULARY, not the raw corpus: one row per
  * distinct word with its frequency, each word a sequence of symbols
  * (initially characters). A round (1) counts adjacent symbol pairs
  * weighted by word frequency, (2) picks the best pair under a TOTAL order
  * (count desc, then pair lexicographic — ties must break identically in
  * every engine), (3) merges greedy-leftmost occurrences of that pair.
  *
  * Greedy-leftmost is the only subtle part: occurrences of (x, y) can
  * overlap only when x == y (a run like "aaa" has candidate starts 0 and 1
  * but BPE merges only even offsets within the run). Relationally that is
  * gaps-and-islands: among candidate start positions, consecutive runs
  * form islands (pos - row_number), and a start survives iff its 0-based
  * offset within its island is even. For x != y candidates are never
  * adjacent, every island has size 1, and the formula degenerates to
  * "merge all" — one code path covers both cases, in Spark and in the
  * DuckDB oracle (the same windows exist in both engines).
  *
  * Scale: all rounds operate on the vocabulary (|distinct words| rows,
  * shuffles keyed on word), never the corpus — the corpus is touched once
  * for the word counts. This is why real BPE trainers handle 100 TB of
  * text: the vocab table is bounded.
  */
object Bpe {

  /** (word, cnt) → (word, cnt, pos, sym): one row per character. */
  def initialSymbols(vocab: DataFrame): DataFrame =
    vocab.select(col("word"), col("cnt"),
      posexplode(expr("transform(sequence(1, length(word)), i -> substring(word, i, 1))"))
        .as(Seq("pos", "sym")))

  /** Highest-frequency adjacent pair: 1 row (x, y, pair_cnt), total order. */
  def bestPair(sym: DataFrame): DataFrame = {
    val w = Window.partitionBy("word").orderBy("pos")
    sym.withColumn("nxt", lead(col("sym"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .groupBy(col("sym").as("x"), col("nxt").as("y"))
      .agg(sum(col("cnt")).as("pair_cnt"))
      .orderBy(col("pair_cnt").desc, col("x"), col("y")).limit(1)
  }

  /** Merge greedy-leftmost occurrences of `best`'s (x, y) in every word.
    *
    * Pure window form of gaps-and-islands: the former spelling computed
    * the kept start positions as a separate table and re-attached them
    * with an inner join + an anti join — two (word, pos)-keyed exchanges
    * of the symbol table per merge round for a decision each row can make
    * from its own window context. Here every row computes candidate /
    * island / offset-parity / consumed-by-predecessor via chained window
    * functions over ONE hash(word) clustering (the island pass re-sorts
    * locally, no exchange), then projects its merged or surviving symbol
    * in place. Same islands, same even-offset keeps, same renumbering —
    * oracle-identical (bpe1/bpe2 hash-gated, BpeSpec fixtures unchanged).
    */
  def mergeBest(sym: DataFrame, best: DataFrame): DataFrame = {
    val w = Window.partitionBy("word").orderBy("pos")
    val wRun = Window.partitionBy("word", "island").orderBy("pos")
    val s1 = sym.crossJoin(broadcast(best.select("x", "y")))
      .withColumn("nxt", lead(col("sym"), 1).over(w))
      // isNotNull guard keeps cand FALSE (not null) at the word's last
      // position, so the boolean algebra below stays two-valued
      .withColumn("cand", col("nxt").isNotNull &&
        col("sym") === col("x") && col("nxt") === col("y"))
      // running candidate count ≡ row_number over the cand-only subset;
      // pos − rnc is the island id (constant within a consecutive run)
      .withColumn("rnc", count(when(col("cand"), 1))
        .over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("island", when(col("cand"), col("pos") - col("rnc")))
    val s2 = s1
      // within a (word, island) partition only that run's cand rows have
      // this island id, so row_number − 1 is the 0-based run offset
      .withColumn("keep",
        col("cand") && (row_number().over(wRun) - 1) % 2 === 0)
      .withColumn("prevKeep", lag(col("keep"), 1, false).over(w))
    s2.filter(!col("prevKeep")) // rows consumed as the y of a kept merge
      .select(col("word"), col("cnt"), col("pos"),
        when(col("keep"), concat(col("x"), col("y")))
          .otherwise(col("sym")).as("sym"))
      .withColumn("pos", row_number().over(w))
      .select("word", "cnt", "pos", "sym")
  }

  /** Top `k` merges: (merge_rank, pair, pair_cnt). */
  def trainMerges(vocab: DataFrame, k: Int): DataFrame = {
    var sym = initialSymbols(vocab).localCheckpoint()
    var out: DataFrame = null
    for (i <- 1 to k) {
      val best = bestPair(sym).localCheckpoint()
      val row = best.select(lit(i).as("merge_rank"),
        concat(col("x"), lit(" "), col("y")).as("pair"),
        col("pair_cnt"))
      out = if (out == null) row else out.unionByName(row)
      if (i < k) sym = mergeBest(sym, best).localCheckpoint()
    }
    out
  }

  /** Train k merges AND apply every one of them: the symbol table after
    * round k IS the BPE-encoded vocabulary (this is how real tokenizers
    * encode — merge rules replay against the word list, and documents
    * inherit the encoding by word lookup, so the corpus is never
    * re-segmented). Returns (word, cnt, pos, sym) after all k merges.
    */
  def encodeVocab(vocab: DataFrame, k: Int): DataFrame =
    Rounds.iterate(initialSymbols(vocab).localCheckpoint(), k) { (sym, _) =>
      mergeBest(sym, bestPair(sym).localCheckpoint())
    }

  /** DuckDB oracle for [[trainMerges]]: the same rounds unrolled as CTEs —
    * structurally identical windows, so any divergence is a real bug.
    * `vocabSql` must yield (word, cnt).
    *
    * Every per-round CTE is MATERIALIZED: `s_i` is referenced four times
    * per round, and DuckDB inlines plain CTEs, so without the hint round
    * k's expansion re-derives the whole chain ~4^k times — invisible on a
    * small vocabulary, an OOM at the sf10 probe's 5M-word vocabulary.
    * Materialized, each round computes once (exactly how the Spark side's
    * localCheckpoint bounds the iterative lineage).
    */
  def unrolledSql(vocabSql: String, k: Int): String = {
    val (chain, _) = chainSql(vocabSql, k)
    val sel = (1 to k).map(i =>
      s"SELECT $i AS merge_rank, x || ' ' || y AS pair, " +
        s"CAST(pair_cnt AS BIGINT) AS pair_cnt FROM b$i")
      .mkString("\nUNION ALL ")
    s"""$chain
       |$sel
       |ORDER BY merge_rank""".stripMargin
  }

  /** DuckDB oracle for [[encodeVocab]] + per-word reassembly: the same
    * unrolled chain, selecting the post-round-k symbol table instead of
    * the merge list.
    */
  def encodeSql(vocabSql: String, k: Int): String = {
    val (chain, last) = chainSql(vocabSql, k)
    s"""$chain
       |SELECT word, CAST(cnt AS BIGINT) AS cnt,
       |       string_agg(sym, ' ' ORDER BY pos) AS tokens,
       |       CAST(count(*) AS BIGINT) AS n_tokens
       |FROM $last GROUP BY word, cnt ORDER BY word""".stripMargin
  }

  /** Shared unrolled-round WITH-chain: returns (chain SQL ending after
    * round k's `s{k+1}` CTE, name of that final symbol CTE). Every
    * per-round CTE is MATERIALIZED — see [[unrolledSql]]'s scaladoc.
    */
  private def chainSql(vocabSql: String, k: Int): (String, String) = {
    def round(i: Int): String = {
      val s = s"s$i"
      s"""p$i AS MATERIALIZED (SELECT sym, nxt, sum(cnt) AS pair_cnt FROM (
         |  SELECT cnt, sym, lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
         |  FROM $s) WHERE nxt IS NOT NULL GROUP BY 1, 2),
         |b$i AS MATERIALIZED (SELECT sym AS x, nxt AS y, pair_cnt FROM p$i
         |        ORDER BY pair_cnt DESC, x, y LIMIT 1),
         |cand$i AS MATERIALIZED (SELECT t.word, t.pos,
         |             row_number() OVER (PARTITION BY t.word ORDER BY t.pos) AS rn
         |           FROM (SELECT word, pos, sym,
         |                   lead(sym) OVER (PARTITION BY word ORDER BY pos) AS nxt
         |                 FROM $s) t CROSS JOIN b$i
         |           WHERE t.sym = b$i.x AND t.nxt = b$i.y),
         |keep$i AS MATERIALIZED (SELECT word, pos FROM (
         |             SELECT word, pos,
         |               row_number() OVER (PARTITION BY word, pos - rn ORDER BY pos) - 1 AS off
         |             FROM cand$i) WHERE off % 2 = 0),
         |s${i + 1} AS MATERIALIZED (SELECT word, cnt,
         |    row_number() OVER (PARTITION BY word ORDER BY pos) AS pos, sym
         |  FROM (
         |    SELECT s.word, s.cnt, s.pos, b$i.x || b$i.y AS sym
         |    FROM $s s JOIN keep$i k ON s.word = k.word AND s.pos = k.pos
         |    CROSS JOIN b$i
         |    UNION ALL
         |    SELECT s.word, s.cnt, s.pos, s.sym FROM $s s
         |    WHERE NOT EXISTS (SELECT 1 FROM keep$i k
         |                      WHERE k.word = s.word
         |                        AND (k.pos = s.pos OR k.pos + 1 = s.pos))))""".stripMargin
    }
    val rounds = (1 to k).map(round).mkString(",\n")
    val chain =
      s"""WITH v AS ($vocabSql),
         |s1 AS MATERIALIZED (SELECT word, cnt, i AS pos, word[i] AS sym
         |       FROM (SELECT word, cnt, unnest(range(1, len(word) + 1)) AS i FROM v)),
         |$rounds""".stripMargin
    (chain, s"s${k + 1}")
  }
}
