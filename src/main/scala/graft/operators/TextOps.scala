package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.sources.{Artifacts, Tables}
import graft.sources.Artifacts.{cutLineage, memoized}

/** Text-analysis and deduplication operators for large-scale training-data
  * pipelines, over the `documents` table.
  *
  * Everything is built from codegen'd built-in expressions and
  * higher-order array functions — no UDFs — so whole-stage codegen spans
  * the full pipeline and the operators scale linearly with partitions.
  *
  * Cross-engine determinism: the only hash used is `md5` (identical in
  * Spark and DuckDB), and all folds are over exact integers, so every
  * operator here is DuckDB-oracle checkable.
  */
object TextOps {

  /** Unpersist and forget every stored artifact of `spark` — the
    * end-of-pipeline hook every driver calls before session stop. See
    * [[Artifacts.release]].
    */
  def release(spark: SparkSession): Unit = Artifacts.release(spark)

  /** Whitespace tokenization shared by all text operators — and by the
    * streaming twins (StreamingVocab): one definition, so a tokenizer
    * change cannot silently diverge the drained dictionary from
    * [[bpeTrain]]/[[unigramTrain]]'s corpus view.
    */
  private[graft] val words: Column = split(col("text"), " ")

  /** Round-robin fan-out of a SMALL scan feeding row-multiplying work
    * (token/gram explodes expand each doc ~50–300×): when the scan
    * yields fewer partitions than the session's parallelism — the
    * bench fixtures are single-file/single-row-group parquet, so every
    * pre-exchange stage otherwise runs as ONE task regardless of core
    * count — repartition the compact pre-expansion rows so the explode
    * and its partial aggregate parallelize (guide §8: move the small
    * rows, expand in parallel; measured: langidCng's explode+agg stage
    * 2.5 s single-task → sub-second at local[32]). At scale the corpus
    * scan already has ≥ cores partitions and this is a NO-OP — no
    * exchange is added, so the 100 TB plan never round-robins the
    * corpus. Keyless repartition is deterministic (sort-before-
    * repartition is on by default, SPARK-23207) and AQE never
    * coalesces a user-specified partition count.
    */
  private[graft] def fanOut(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= p) df else df.repartition(p)
  }

  private def withWords(spark: SparkSession, dir: String): DataFrame =
    fanOut(Tables.documents(spark, dir)).withColumn("words", words)

  /** [[withWords]] with the token array materialized behind a Generate
    * node (`explode` of a one-element array — always exactly one output
    * row, so semantics equal `withColumn`, null text included).
    *
    * Why: CollapseProject inlines a projected expression into every
    * consumer, INCLUDING the body of a higher-order-function lambda —
    * `transform(sequence(...), i -> slice(words, i+1, n))` with `words`
    * inlined re-runs the split for EVERY index i, turning tokenization
    * O(tokens) into O(tokens²) per document (measured 2.9× on
    * `repetition` at sf0.1). Projects cannot collapse across a
    * Generate, so here the split runs once per row and lambdas index a
    * real array attribute. Use this variant for any operator whose
    * lambda INDEXES into `words` (n-gram windows); plain fold/filter
    * lambdas that take `words` as the iterated argument evaluate it
    * once and don't need the barrier.
    */
  private def withWordsAttr(spark: SparkSession, dir: String): DataFrame =
    fanOut(Tables.documents(spark, dir))
      .select(col("*"), explode(array(words)).as("words"))

  /** Token counting: whitespace tokens plus a BPE-ish subword estimate
    * (≈ 4 chars per subword piece, the usual budget heuristic).
    */
  def tokens(spark: SparkSession, dir: String): DataFrame =
    withWords(spark, dir).select(
      col("doc_id"),
      size(col("words")).cast("long").as("n_tokens_ws"),
      expr("aggregate(words, 0L, (acc, w) -> acc + CAST(ceil(length(w) / 4.0) AS LONG))")
        .as("n_tokens_bpe")
    )

  /** BPE merge table, rank-ordered as a trained learner would emit it
    * (each side is a single char or an earlier merge's result). A real
    * pipeline loads this from the tokenizer artifact; a deterministic
    * literal keeps both engines on the identical inventory — the same
    * embed-the-artifact device as VectorOps' hyperplane literals.
    */
  val BpeMerges: Seq[(String, String)] = Seq(
    "t" -> "h", "th" -> "e", "e" -> "r", "o" -> "r", "a" -> "n",
    "i" -> "n", "o" -> "w", "a" -> "t", "s" -> "t", "r" -> "e",
    "l" -> "e", "t" -> "a", "d" -> "a", "da" -> "ta", "r" -> "o",
    "ro" -> "w", "k" -> "e", "ke" -> "y", "s" -> "c", "sc" -> "an",
    "r" -> "t", "s" -> "o", "so" -> "rt", "f" -> "a", "fa" -> "st",
    "j" -> "o", "jo" -> "in", "c" -> "h", "t" -> "ch", "b" -> "a",
    "ba" -> "tch", "u" -> "e", "q" -> "ue", "l" -> "i", "n" -> "e",
    "li" -> "ne", "g" -> "e", "m" -> "er", "mer" -> "ge")

  /** Piece inventory: the merge results (single chars are implicit —
    * unmerged characters remain single-char pieces, so coverage is
    * total by construction).
    */
  val BpeVocab: Seq[String] = BpeMerges.map { case (a, b) => a + b }.distinct

  /** A merge table as a Spark array-of-structs literal, rank order
    * preserved (element order IS the rank) — parameterized so
    * [[bpeTrain]]'s LEARNED table drives the same encoder
    * (TextOpsSpec's round-trip proof).
    */
  private[graft] def bpeMergesLitFor(ms: Seq[(String, String)]): String =
    ms.map { case (a, b) => s"named_struct('a','$a','b','$b')" }
      .mkString("array(", ",", ")")

  private def bpeMergesLitSpark: String = bpeMergesLitFor(BpeMerges)

  /** FAITHFUL merge-order BPE piece count of ONE word: split to
    * characters, then apply every merge of [[BpeMerges]] in rank
    * order, each as one left-to-right pass that fuses adjacent
    * (a, b) token pairs (the classic apply-the-merge-list encoder).
    * A single rank-ordered sweep is exact BECAUSE the table is valid
    * BPE: any pair involving a merged token was learned AFTER the
    * merge that created the token (spec-asserted), so no lower-rank
    * pair can become applicable once the sweep has passed it —
    * sweeping once ≡ repeatedly merging the lowest-rank pair present.
    *
    * Expression-only, no UDF: the outer fold walks the 39 merges, the
    * inner fold rebuilds the token array fusing `last(acc) = a, t = b`
    * pairs (left-to-right with skip: the fused token is never
    * re-paired with the same pass's next token unless it equals `a`
    * again, which requires a = b — absent from the table,
    * spec-asserted). Merges whose sides are pre-empted by lower-rank
    * merges in a given word simply never fire there — e.g. rank-7
    * (a,t) consumes the 'a t' of "data" before rank-12 (d,a) or
    * rank-13 (da,ta) can form, so a faithful encoder splits "data"
    * into d|at|a where greedy longest-match found the single piece
    * "data". That divergence is exactly why the greedy scheme was an
    * approximation.
    */
  private def bpePieceArray(mergesLit: String, w: String): String =
    s"""aggregate($mergesLit,
       |    CASE WHEN length($w) = 0 THEN CAST(array() AS array<string>)
       |         ELSE transform(sequence(1, length($w)), i -> substring($w, i, 1)) END,
       |    (toks, m) -> aggregate(toks, CAST(array() AS array<string>), (acc, t) ->
       |      CASE WHEN try_element_at(acc, -1) = m.a AND t = m.b
       |           THEN concat(slice(acc, 1, size(acc) - 1), array(concat(m.a, m.b)))
       |           ELSE concat(acc, array(t)) END))""".stripMargin

  private def bpeWordPieces(w: String): String =
    s"CAST(size(${bpePieceArray(bpeMergesLitSpark, w)}) AS BIGINT)"

  /** Test-only: the encoder's piece SEGMENTATION ('|'-joined) under an
    * arbitrary merge table — TextOpsSpec feeds [[bpeTrain]]'s learned
    * table through it to close the train → encode loop.
    */
  private[graft] def bpeEncodeForTest(ms: Seq[(String, String)], w: String): String =
    s"concat_ws('|', ${bpePieceArray(bpeMergesLitFor(ms), w)})"

  /** Per-document piece total as a single scan-bound expression over
    * the `words` array — zero shuffle; what [[pack]]/[[mixWeights]]
    * fold into their own aggregates under `tokenizer = "bpe"`. Cost is
    * O(|merges| · length) token-array passes per word OCCURRENCE —
    * right when the downstream op already consumes the full words
    * array.
    */
  private[operators] def bpeDocPieces(wordsCol: String): String =
    s"aggregate($wordsCol, 0L, (tot, w) -> tot + ${bpeWordPieces("w")})"

  /** Test-only window into [[bpeWordPieces]] (TextOpsSpec proves the
    * single-sweep expression equals the classic lowest-rank-first
    * loop word-for-word).
    */
  private[graft] def bpeWordPiecesForTest(w: String): String = bpeWordPieces(w)

  /** Subword token counts per document under the merge-table tokenizer
    * — the counts a training pipeline budgets with (pack sequences,
    * shard balance, mixture mass), where the whitespace count of
    * [[tokens]] is only a proxy. Emits the word count too so the ratio
    * is auditable. The encoder is the FAITHFUL merge-order algorithm
    * (see [[bpeWordPieces]]): iterative lowest-rank-first pair merging
    * over the rank-ordered inventory, exactly what a real BPE encoder
    * runs against its trained merge list.
    *
    * Shape: tokenize the DISTINCT words once (a Zipf corpus has
    * vastly fewer types than tokens — 31 vs ~3M at sf0.1, where the
    * naive per-occurrence march measured 3.4s vs 0.9s for this plan),
    * broadcast the tiny dictionary back onto the exploded word stream,
    * and partial-aggregate per doc — the shuffle carries one row per
    * document, never text. The same dictionary device as the DuckDB
    * mirror's recursive march over `uw`.
    */
  def tokensBpe(spark: SparkSession, dir: String): DataFrame = {
    val wm = withWords(spark, dir)
      .select(col("doc_id"), explode(col("words")).as("w"))
    val dict = wm.select(col("w")).distinct()
      .withColumn("np", expr(bpeWordPieces("w")))
    wm.join(broadcast(dict), Seq("w"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("np")).as("n_pieces"))
      .withColumn("pieces_per_word",
        col("n_pieces").cast("double") / col("n_words"))
      .select(col("doc_id"), col("n_words"), col("n_pieces"),
        col("pieces_per_word"))
  }

  /** Merges learned per [[bpeTrain]] run — the bounded unroll the
    * oracle mirrors round for round (the kCorePeel device). A real
    * tokenizer trains tens of thousands; the bound is the fixture's
    * round count, not an algorithmic limit (each extra round is one
    * more pair-count aggregate over the shrinking type dictionary).
    */
  val BpeTrainRounds = 8

  /** One left-to-right merge pass fusing adjacent (`ba`, `bb`) token
    * pairs — [[bpeWordPieces]]'s inner fold with the merge sides as
    * COLUMNS (the trained pair of the round) instead of literals.
    */
  private val bpeMergeFoldSql: String =
    """aggregate(toks, CAST(array() AS array<string>), (acc, t) ->
      |  CASE WHEN try_element_at(acc, -1) = ba AND t = bb
      |       THEN concat(slice(acc, 1, size(acc) - 1), array(concat(ba, bb)))
      |       ELSE concat(acc, array(t)) END)""".stripMargin

  /** BPE merge-table TRAINING (Sennrich, Haddow & Birch 2016): learn
    * [[BpeTrainRounds]] merges from the corpus itself — per round, the
    * exact occurrence-weighted count of every adjacent token pair, the
    * arg-max pair under the deterministic (count DESC, a ASC, b ASC)
    * tiebreak, then one left-to-right fuse pass — the table
    * [[tokensBpe]]'s encoder consumes (TextOpsSpec closes the loop:
    * the learned table fed to the encoder matches a classic trainer's
    * segmentation word for word).
    *
    * Scale shape: training runs over the DISTINCT-WORD dictionary with
    * occurrence weights (the [[tokensBpe]] type-vs-token device — the
    * corpus is scanned ONCE for the word-frequency aggregate; every
    * round after that is a pair-count aggregate + argmax + fuse over
    * the dictionary, which is vocabulary-sized, not corpus-sized).
    * Each round cuts lineage ([[cutLineage]]): the round's token table
    * feeds both the pair count and the next fuse, and uncut the plan
    * tree would double per round. The loop stays outside
    * [[Artifacts.iterate]] because each round also yields its best
    * pair, a second frame the seam does not carry. The argmax
    * is a 1-row TakeOrdered broadcast back onto the dictionary —
    * nothing driver-side, nothing corpus-sized after the first
    * aggregate.
    *
    * One documented determinism guard: candidate pairs with a = b are
    * excluded. For a self-pair, "fuse leftmost-first then continue
    * after the fused token" (this fold) and "replace non-overlapping
    * occurrences to a fixpoint" (the only engine-portable SQL mirror)
    * group runs of length ≥ 5 differently, so the self-pair is the one
    * candidate whose application is not bit-portable; natural-language
    * early merges are never self-pairs, and both engines apply the
    * identical exclusion.
    */
  def bpeTrain(spark: SparkSession, dir: String): DataFrame =
    // the merge table is memoized like the library's other trained
    // artifacts: a tokenizer owner trains once and every consumer
    // mounts the table (the 8-round build lands in the warmup)
    memoized(spark, dir, "bpe_merge_table") {
      bpeTrainFromDict(withWords(spark, dir)
        .select(explode(col("words")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("f")))
    }

  /** [[bpeTrain]] over any (w, f) word-frequency dictionary — shared
    * with the incremental vocabulary store
    * ([[graft.streaming.StreamingVocab]]): the trainer is
    * dictionary-driven by construction (the type-vs-token device), so
    * a merged count store re-trains bit-identically to the batch scan.
    */
  private[graft] def bpeTrainFromDict(wf: DataFrame): DataFrame = {
    var toks = cutLineage(wf.select(col("f"), expr(
      """CASE WHEN length(w) = 0 THEN CAST(array() AS array<string>)
        |     ELSE transform(sequence(1, length(w)), i -> substring(w, i, 1))
        |END""".stripMargin).as("toks")))
    val bests = (1 to BpeTrainRounds).map { r =>
      val pairs = toks.select(col("f"), explode(expr(
        """CASE WHEN size(toks) >= 2
          |     THEN transform(sequence(1, size(toks) - 1),
          |       i -> named_struct('a', element_at(toks, i),
          |                         'b', element_at(toks, i + 1)))
          |     ELSE CAST(array() AS array<struct<a: string, b: string>>)
          |END""".stripMargin)).as("p"))
        .select(col("f"), col("p.a").as("a"), col("p.b").as("b"))
      val best = pairs
        .where(col("a") =!= col("b")) // the self-pair guard (see Scaladoc)
        .groupBy(col("a"), col("b"))
        .agg(sum(col("f")).as("cnt"))
        .orderBy(col("cnt").desc, col("a").asc, col("b").asc)
        .limit(1)
      toks = cutLineage(
        toks.crossJoin(broadcast(
          best.select(col("a").as("ba"), col("b").as("bb"))))
          .select(col("f"), expr(bpeMergeFoldSql).as("toks")))
      best.select(lit(r.toLong).as("rank"), col("a"), col("b"),
        col("cnt").as("pair_count"))
    }
    bests.reduce(_.unionAll(_))
  }

  /** Max subword piece length for [[unigramTrain]]. */
  val UnigramMaxPiece = 4

  /** Words longer than this are excluded from unigram training: the
    * segmentation-composition table is a PLAN-TIME literal in this
    * bound (it grows ~3.4× per extra character — 223 compositions /
    * ~700 part rows at 8). The fixture dictionary tops out at 8; a
    * real corpus raises the constant (16 ≈ 18k rows, still a
    * broadcast literal) or splits rare ultra-long words on a
    * character fallback first, the SentencePiece convention.
    */
  val UnigramMaxWord = 8

  /** Seed vocabulary size (round 0 keeps the top substrings). */
  val UnigramSeedVocab = 60

  /** Pruned vocabulary size per EM round (plus full char coverage). */
  val UnigramVocab = 40

  /** EM rounds in [[unigramTrain]] — bounded and unrolled so the
    * DuckDB oracle mirrors the exact computation (the [[CcRounds]] /
    * [[BpeTrainRounds]] discipline). */
  val UnigramRounds = 3

  /** All ordered compositions of `n` into parts 1..[[UnigramMaxPiece]],
    * lexicographic by part sequence — the enumeration order IS the
    * deterministic tiebreak id. */
  private[graft] def unigramCompositions(n: Int): Seq[Seq[Int]] =
    if (n == 0) Seq(Seq.empty)
    else (1 to math.min(UnigramMaxPiece, n)).flatMap(p =>
      unigramCompositions(n - p).map(p +: _))

  /** The composition table flattened to one row per (composition,
    * part): (wlen, comp_id, n_parts, pstart, plen). Data-independent,
    * so it is a literal on BOTH engines (OracleText renders the same
    * rows as VALUES) — zero drift by construction. */
  private[graft] def unigramPartRows: Seq[(Int, Int, Int, Int, Int)] =
    for {
      wlen <- 1 to UnigramMaxWord
      (comp, cid) <- unigramCompositions(wlen).zipWithIndex
      (plen, idx) <- comp.zipWithIndex
    } yield (wlen, cid, comp.size, comp.take(idx).sum + 1, plen)

  /** Unigram-LM (SentencePiece-style) tokenizer TRAINING (Kudo 2018):
    * the other production tokenizer family next to [[bpeTrain]] —
    * seed a substring vocabulary, then EM: E-step segments every
    * dictionary word into its maximum-likelihood piece sequence under
    * the current vocabulary, M-step re-estimates piece masses from
    * the chosen segmentations, prune to the vocab budget (always
    * keeping full single-character coverage, so every word stays
    * segmentable). Hard-EM (Viterbi counts, the `--hard_em`-style
    * variant) rather than lattice posteriors: the arg-max is
    * engine-portable where forward-backward sums of doubles are not.
    *
    * Determinism devices: piece log-masses live on the third-bit
    * integer-log2 grid ([[b3Spark]], the [[nbClassifier]] device) —
    * a segmentation's score is Σ b3(cnt+1) − n_parts·b3(C+V), exact
    * integers, so the per-word arg-max (ties → smallest composition
    * id in lexicographic part order) can never wobble across engines.
    * The Viterbi search itself is RELATIONAL: all segmentations of a
    * length-L word are the compositions of L into parts ≤
    * [[UnigramMaxPiece]] — a data-independent PLAN-TIME literal
    * ([[unigramPartRows]]) — so the E-step is dictionary ⋈ compositions
    * ⋈ vocabulary + one argmax groupBy, no fold, no recursion. A
    * composition is valid iff every part found its piece in the
    * current vocab (count match), and char coverage guarantees the
    * all-singles composition always survives.
    *
    * Scale shape: the corpus is scanned ONCE for the word-frequency
    * dictionary ([[bpeTrain]]'s type-vs-token device); every EM round
    * is dictionary-sized × a ~700-row broadcast literal — vocab-bound
    * flat, like BPE. The rounds run through [[Artifacts.iterate]],
    * which cuts each one.
    */
  def unigramTrain(spark: SparkSession, dir: String): DataFrame =
    // memoized trained artifact (the bpe_merge_table rationale); the
    // encoder reads THIS table, so train + encode share one build
    memoized(spark, dir, "unigram_vocab_ranked") {
      unigramTrainFrom(Tables.documents(spark, dir))
    }

  /** [[unigramTrain]] over any (doc_id, text) frame — the public
    * train-on-anything entry (also the scale probe's seam: the corpus
    * scan is the only input-sized stage; every EM round is
    * dictionary-bound).
    */
  def unigramTrainFrom(docs: DataFrame): DataFrame =
    unigramTrainFromDict(
      docs.withColumn("words", words).select(explode(col("words")).as("w"))
        .groupBy(col("w")).agg(count(lit(1)).as("f")))

  /** [[unigramTrain]] over any (w, f) dictionary (the word-length cap
    * applies here, so callers pass the raw dictionary) — shared with
    * the incremental vocabulary store like [[bpeTrainFromDict]].
    */
  private[graft] def unigramTrainFromDict(wf: DataFrame): DataFrame = {
    val spark = wf.sparkSession
    val dict = cutLineage(
      wf.where(length(col("w")).between(1, UnigramMaxWord)))
    val alphabet = dict.select(explode(expr(
      "transform(sequence(1, length(w)), i -> substring(w, i, 1))")).as("piece"))
      .distinct()
    // prune to top-k by mass (piece ASC tiebreak) ∪ char coverage
    def prune(counts: DataFrame, k: Int): DataFrame = {
      val top = counts
        .withColumn("rk", row_number().over(
          Window.orderBy(col("cnt").desc, col("piece").asc)))
        .where(col("rk") <= k).select(col("piece"), col("cnt"))
      val singles = alphabet
        .join(counts.where(length(col("piece")) === 1), Seq("piece"), "left")
        .select(col("piece"), coalesce(col("cnt"), lit(0L)).as("cnt"))
      top.unionAll(singles.join(top, Seq("piece"), "left_anti"))
    }
    val seed = dict.select(col("f"), explode(expr(
      s"""flatten(transform(sequence(1, length(w)),
            i -> transform(sequence(i, least(length(w), i + ${UnigramMaxPiece - 1})),
              j -> substring(w, i, j - i + 1))))""")).as("piece"))
      .groupBy(col("piece")).agg(sum(col("f")).as("cnt"))
    val sess = spark
    import sess.implicits._
    val parts = broadcast(
      unigramPartRows.toDF("wlen", "comp_id", "n_parts", "pstart", "plen"))
    val (vocab, _) = Artifacts.iterate(
        cutLineage(prune(seed, UnigramSeedVocab)), UnigramRounds) { vocab =>
      val best = unigramBest(dict.select(col("w")), vocab, parts)
      val counts = best.join(dict, Seq("w"))
        .join(parts,
          length(col("w")) === col("wlen") && col("bcid") === col("comp_id"))
        .select(col("f"), expr("substring(w, pstart, plen)").as("piece"))
        .groupBy(col("piece")).agg(sum(col("f")).as("cnt"))
      prune(counts, UnigramVocab)
    }
    vocab.select(
      row_number().over(Window.orderBy(col("cnt").desc, col("piece").asc))
        .cast("long").as("rank"),
      col("piece"), col("cnt"))
  }

  /** THE unigram E-step, shared by the training rounds and the
    * encoder ([[tokensUnigram]]): the maximum-likelihood composition
    * per dictionary word under a given (piece, cnt) vocabulary —
    * scores Σ b3(cnt+1) − n_parts·b3(C+V) on the exact integer grid,
    * argmax via struct-min with the (score DESC, comp_id ASC)
    * tiebreak. Returns (w, bcid, bnp) — chosen composition id and its
    * piece count.
    */
  private def unigramBest(dict: DataFrame, vocab: DataFrame,
      parts: DataFrame): DataFrame = {
    val norm = vocab
      .agg(sum(col("cnt")).as("ctot"), count(lit(1)).as("v"))
      .select(expr(b3Spark("ctot + v")).as("z"))
    val cand = dict.join(parts, length(col("w")) === col("wlen"))
      .select(col("w"), col("comp_id"), col("n_parts"),
        expr("substring(w, pstart, plen)").as("piece"))
    cand.join(vocab, Seq("piece"))
      .groupBy(col("w"), col("comp_id"), col("n_parts"))
      .agg(sum(expr(b3Spark("cnt + 1"))).as("s"),
        count(lit(1)).as("n_found"))
      .where(col("n_found") === col("n_parts"))
      .crossJoin(broadcast(norm))
      .select(col("w"), col("comp_id"), col("n_parts"),
        (col("s") - col("n_parts") * col("z")).as("score"))
      .groupBy(col("w"))
      .agg(min(struct((-col("score")).as("ns"), col("comp_id").as("cid"),
        col("n_parts").as("np"))).as("b"))
      .select(col("w"), col("b.cid").as("bcid"), col("b.np").as("bnp"))
  }

  /** Unigram ENCODING — [[tokensBpe]]'s twin under the
    * [[unigramTrain]]-learned vocabulary: every DISTINCT word Viterbi-
    * segments once through the shared E-step ([[unigramBest]], the
    * same relational composition device), the piece counts broadcast
    * back onto the occurrence stream, per-doc totals aggregate. Words
    * beyond [[UnigramMaxWord]] fall back to character segmentation
    * (the SentencePiece rare-ultra-long-word convention), spelled as
    * a left-join coalesce onto length(w). The learned vocabulary is
    * memoized — the stored tokenizer artifact the encoder mounts.
    */
  def tokensUnigram(spark: SparkSession, dir: String): DataFrame = {
    val vocab = unigramTrain(spark, dir).select(col("piece"), col("cnt"))
    val sess = spark
    import sess.implicits._
    val parts = broadcast(
      unigramPartRows.toDF("wlen", "comp_id", "n_parts", "pstart", "plen"))
    val wm = withWords(spark, dir)
      .select(col("doc_id"), explode(col("words")).as("w"))
    val dict = wm.select(col("w")).distinct()
      .where(length(col("w")).between(1, UnigramMaxWord))
    val best = unigramBest(dict, vocab, parts)
    wm.join(broadcast(best.select(col("w"), col("bnp"))), Seq("w"), "left")
      .select(col("doc_id"),
        coalesce(col("bnp").cast("long"), length(col("w")).cast("long"))
          .as("np"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_words"), sum(col("np")).as("n_pieces"))
      .withColumn("pieces_per_word",
        col("n_pieces").cast("double") / col("n_words"))
      .select(col("doc_id"), col("n_words"), col("n_pieces"),
        col("pieces_per_word"))
  }

  /** Quality scoring: length / vocabulary-diversity / stopword signals.
    * All ratios are exact-integer divisions evaluated in double — bit-
    * identical across engines.
    */
  def quality(spark: SparkSession, dir: String): DataFrame =
    qualityFrom(Tables.documents(spark, dir))

  /** [[quality]] over any (doc_id, text) frame — the un-memoized core
    * shared with the streaming export store
    * ([[graft.streaming.StreamingExport]]), which scores each
    * micro-batch slice rather than a table directory. One definition
    * ⇒ the store's drain≡batch bit-exactness cannot drift.
    */
  private[graft] def qualityFrom(docs: DataFrame): DataFrame = {
    val stop = "array('the','a','of','and','to','in','is','it','on','for')"
    docs.withColumn("words", words).select(
      col("doc_id"),
      length(col("text")).cast("long").as("n_chars"),
      size(col("words")).cast("long").as("n_words"),
      (size(array_distinct(col("words"))).cast("double") /
        size(col("words"))).as("uniq_ratio"),
      (expr(s"size(filter(words, w -> array_contains($stop, w)))").cast("double") /
        size(col("words"))).as("stopword_ratio"),
      (length(col("text")).cast("double") / size(col("words"))).as("avg_token_len")
    )
  }

  /** Gopher-style repetition/quality rule gate (Rae et al. 2021 §A1.1,
    * the rule families adapted to the fixture's clean word soup): the
    * classic pre-training document filter as PER-RULE booleans plus
    * the conjunction, every decision made in EXACT INTEGER space —
    * ratio thresholds are cross-multiplied (`mean ≥ 3` becomes
    * `sum ≥ 3·n`), so no rule can wobble across engines:
    *   - word count within [50, 100000];
    *   - mean word length within [3, 10];
    *   - ≥ 2 distinct stopwords present (the "has real syntax" proxy);
    *   - top bigram ≤ 20% of all bigrams (boilerplate/chant filter);
    *   - duplicate word occurrences ≤ 30% of tokens.
    *
    * Shape at 100 TB: the per-word rules are scan-bound folds; the
    * top-bigram rule is one (doc, bigram)-keyed partial-count
    * aggregate reduced per doc (max + sum ride the same groupBy) —
    * no sort, no join except the 1:1 doc-level merge of the two
    * aggregate grains.
    */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val stop = "array('the','a','of','and','to','in','is','it','on','for')"
    val perWord = withWords(spark, dir).select(
      col("doc_id"),
      size(col("words")).cast("long").as("n_words"),
      size(array_distinct(col("words"))).cast("long").as("n_distinct"),
      expr("aggregate(words, 0L, (acc, w) -> acc + length(w))").as("sum_len"),
      expr(s"size(array_intersect(words, $stop))").cast("long").as("n_stop"))
    val bg = withWordsAttr(spark, dir)
      .where(size(col("words")) >= 2)
      .select(col("doc_id"), explode(expr(
        "transform(sequence(0, size(words) - 2), i -> concat(words[i], ' ', words[i + 1]))"))
        .as("b"))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("max_bg"), sum(col("c")).as("n_bg"))
    perWord.join(bg, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_words"),
        (col("n_words") >= 50L && col("n_words") <= 100000L).as("r_word_count"),
        (col("sum_len") >= col("n_words") * 3L &&
          col("sum_len") <= col("n_words") * 10L).as("r_mean_word_len"),
        (col("n_stop") >= 2L).as("r_stopwords"),
        // docs too short for bigrams pass the repetition rules vacuously
        coalesce(col("max_bg") * 5L <= col("n_bg"), lit(true)).as("r_top_bigram"),
        ((col("n_words") - col("n_distinct")) * 10L <= col("n_words") * 3L)
          .as("r_dup_words"))
      .withColumn("keep",
        col("r_word_count") && col("r_mean_word_len") && col("r_stopwords") &&
          col("r_top_bigram") && col("r_dup_words"))
  }

  /** Language identification via per-language stopword scoring with a
    * deterministic priority tiebreak — the n-gram-heuristic family of
    * langid, reduced to word unigrams (the fixture text is synthetic).
    */
  def langid(spark: SparkSession, dir: String): DataFrame = {
    def score(list: String): Column =
      expr(s"size(filter(words, w -> array_contains(array($list), w)))").cast("long")
    val en = score("'the','a','of','and','to','is'")
    val es = score("'el','la','de','y','que','en'")
    val de = score("'der','die','und','das','ist','ein'")
    val fr = score("'le','les','et','des','un','une'")
    withWords(spark, dir).select(
      col("doc_id"), col("lang"),
      en.as("score_en"), es.as("score_es"), de.as("score_de"), fr.as("score_fr"),
      when(en >= es && en >= de && en >= fr, lit("en"))
        .when(es >= de && es >= fr, lit("es"))
        .when(de >= fr, lit("de"))
        .otherwise(lit("fr")).as("lang_pred")
    )
  }

  /** Profile length for [[langidCng]] (Cavnar & Trenkle use 300; the
    * fixture vocabulary saturates far earlier).
    */
  val CngK = 40

  /** Overlapping k-char grams of `text` as an array column, with an
    * ASCII byte-slice fast path. `substring(text, i, k)` on a string
    * walks the UTF8 bytes from the head to find char offset i, so the
    * naive per-position gram expansion is O(len²) PER DOCUMENT — the
    * dominant cost of the char-gram operators (measured: the langid
    * trigram explode alone 2.2 s at sf0.1, 0.7 s byte-sliced). When
    * `length(text) = octet_length(text)` every char is one byte, so
    * slicing the BINARY cast (an O(k) arraycopy at a direct byte
    * offset) yields exactly the same grams; multi-byte text falls back
    * to the char-walk branch, so results are identical for EVERY
    * input, not just the ASCII fixture.
    */
  private[graft] def charGrams(k: Int): Column = expr(
    s"""CASE WHEN length(text) >= $k AND length(text) = octet_length(text)
       |     THEN transform(sequence(1, length(text) - ${k - 1}),
       |            i -> CAST(substring(CAST(text AS binary), i, $k) AS string))
       |     WHEN length(text) >= $k
       |     THEN transform(sequence(1, length(text) - ${k - 1}),
       |            i -> substring(text, i, $k))
       |     ELSE CAST(array() AS array<string>) END""".stripMargin)

  /** Character-n-gram language ID (Cavnar & Trenkle 1994, the
    * out-of-place measure): train per-language trigram RANK profiles
    * from the corpus's own labeled docs, rank each document's top
    * trigrams, and classify by the summed rank displacement
    * (|doc_rank − profile_rank|, missing profile gram = [[CngK]]
    * penalty), argmin with a language tiebreak. The heavier,
    * rank-based sibling of the stopword scorer [[langid]] — and every
    * quantity is an exact integer (counts, ranks, displacements), so
    * the whole classifier is oracle-hashable. (The fixture's text is
    * language-invariant word soup, so per-language profiles differ
    * only by subset noise — the machinery, not the accuracy, is the
    * deliverable, exactly as with [[langid]].)
    *
    * Shape at 100 TB: one trigram explode (3 bytes per char) into a
    * (doc, gram) partial-count agg; the doc top-k is a rank window
    * that plans as a partial WindowGroupLimit; language profiles are
    * |langs|·k rows and BROADCAST into the displacement join, so the
    * per-doc cost after the explode is k·|langs| integer rows.
    */
  def langidCng(spark: SparkSession, dir: String): DataFrame = {
    val k = CngK
    val grams = fanOut(Tables.documents(spark, dir))
      .select(col("doc_id"), col("lang"), explode(charGrams(3)).as("g"))
    // `lang` is functional on `doc_id`, so per-(doc, lang, gram) counts
    // ARE per-(doc, gram) counts with the label carried — the doc
    // branch keys on it and the final re-join against documents for the
    // label column stays eliminated (r16's win). The r16 form ALSO
    // localCheckpoint'ed the per-(doc, lang, gram) aggregate so both
    // branches read it once — measured a net LOSS (3.3 → 4.8 s at
    // local[32]): the aggregate is corpus-scale (~distinct grams per
    // doc × docs), so eagerly writing it through the block manager and
    // reading it back twice costs more than the explode it saves, and
    // the pinned blocks pressured every later query (the r16 driver's
    // 32-thread tail collapse). Each branch now re-derives from the
    // explode: the profile branch aggregates STRAIGHT to (lang, gram)
    // — partial map-side agg collapses it to |langs|·|grams| before
    // the exchange (guide §2.3, aggregate before you shuffle) — so its
    // pass is strictly cheaper than windowing the checkpointed table.
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("cnt").desc, col("g").asc)
    val docTop = grams.groupBy(col("doc_id"), col("lang"), col("g"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("dr", row_number().over(byDoc).cast("long"))
      .where(col("dr") <= k)
      .select(col("doc_id"), col("lang"), col("g"), col("dr"))
    val byLang = Window.partitionBy(col("plang"))
      .orderBy(col("cnt").desc, col("g").asc)
    val langTop = grams.groupBy(col("lang").as("plang"), col("g"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("lr", row_number().over(byLang).cast("long"))
      .where(col("lr") <= k)
      .select(col("plang"), col("g"), col("lr"))
    // lang rides the displacement aggregate's keys (still one row per
    // (doc, plang) — lang is doc-functional), replacing the former
    // re-join against documents for the label column.
    val dist = docTop
      .crossJoin(broadcast(langTop.select(col("plang")).distinct()))
      .join(broadcast(langTop), Seq("plang", "g"), "left")
      .groupBy(col("doc_id"), col("lang"), col("plang"))
      .agg(sum(coalesce(abs(col("dr") - col("lr")), lit(k.toLong)))
        .as("dist"))
    val best = Window.partitionBy(col("doc_id"))
      .orderBy(col("dist").asc, col("plang").asc)
    dist.withColumn("rn", row_number().over(best))
      .where(col("rn") === 1)
      .select(col("doc_id"), col("lang"), col("plang").as("lang_pred"),
        col("dist"), (col("lang") === col("plang")).as("correct"))
  }

  /** Document fingerprinting: md5 over the sorted distinct vocabulary —
    * an order-insensitive content fingerprint (the hash analog of the
    * reference's EAN identity keys, SURVEY.md P5).
    */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    withWords(spark, dir).select(
      col("doc_id"),
      md5(concat_ws(" ", sort_array(array_distinct(col("words")))))
        .as("fingerprint")
    )

  /** Exact deduplication: hash-groupBy on content, keep the smallest
    * doc_id as canonical. One shuffle on the md5 key; at 100 TB the
    * 128-bit key shuffles instead of the document text.
    */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("canonical_doc_id"),
        count(lit(1)).as("n_copies"))

  /** 3-word shingles (guarded for short docs: <3 words → empty). */
  private val shingles: Column = when(size(col("words")) >= 3,
    expr("transform(sequence(0, size(words) - 3), i -> concat_ws(' ', slice(words, i + 1, 3)))"))
    .otherwise(expr("CAST(array() AS array<string>)"))

  // withWordsAttr, not withWords: the shingle lambda indexes into
  // `words`, the quadratic-inlining case the barrier exists for
  private def withShingles(spark: SparkSession, dir: String): DataFrame =
    withWordsAttr(spark, dir).withColumn("shingles", shingles)

  /** Distinct 3-shingle sets over any (doc_id, text) frame — the exact-
    * verification side of the dedup/linkage family, shared with the
    * streaming linkage ([[graft.streaming.StreamingLinkage]]) which
    * verifies batch-vs-store candidates. Same Generate barrier as
    * [[withShingles]].
    */
  private[graft] def shingleSetsFrom(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("text"))
      .select(col("doc_id"), explode(array(words)).as("words"))
      .select(col("doc_id"), array_distinct(shingles).as("sh"))

  /** MinHash signatures: NUM_HASHES permutation-like orderings derived
    * from ONE md5 per shingle — ordering s compares digests rotated by
    * 3·s hex chars, so signature element s = min over shingles of the
    * rotated digest. One digest per shingle (not NumHashes per shingle:
    * common-subexpression elimination does not cross lambda boundaries,
    * so a per-seed `md5(seed || sg)` family recomputes the digest
    * NumHashes times — measured 9× slower). min-of-string is identical
    * in both engines (binary compare of ASCII hex).
    *
    * Shape at scale: explode → per-shingle projection (md5 once) →
    * hash aggregate with map-side partial min, so the shuffle carries
    * only (doc_id, 9 strings) per doc — never the shingle set. The
    * aggregate's exchange also gives downstream self-joins a reuse
    * point (ReuseExchange), so the signature is computed once per
    * query, not once per join side.
    */
  val NumHashes = 9
  val BandSize = 3 // 3 bands of 3 → LSH threshold ≈ (1/3)^(1/3) ≈ 0.69

  /** First 15 hex chars of the digest rotated left by `r` chars, as a
    * 60-bit BIGINT. The long representation matters: min(string) has a
    * variable-length aggregation buffer, forcing SortAggregate (sorts
    * every shingle row); min(long) runs in codegen'd HashAggregate with
    * map-side partial min. Family shared with the DuckDB oracle
    * (OracleText.rotLong).
    */
  private[graft] def rotLong(h: String, r: Int): Column = {
    val prefix15 =
      if (r <= 17) s"substring($h, ${r + 1}, 15)"
      else s"concat(substring($h, ${r + 1}, ${32 - r}), substring($h, 1, ${r - 17}))"
    expr(s"CAST(conv($prefix15, 16, 10) AS BIGINT)")
  }

  // Materialized via [[memoized]]: the signature table is the shared
  // artifact of the whole dedup family (LSH pairing, Jaccard verify,
  // fuzzy verify) and both sides of the LSH self-join; Spark's
  // plan-level exchange reuse does NOT deduplicate the two sides
  // (measured), while the cache manager matches every identical
  // subtree. At ~73 bytes/doc the signatures are 5-6 orders smaller
  // than the corpus — at cluster scale you write them to a table;
  // one in-session MEMORY_AND_DISK persist is the same move.
  def minhashSignatures(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, dir, "minhash_sigs") {
      minhashSignaturesFrom(Tables.documents(spark, dir))
    }

  /** Signature build over any (doc_id, text) frame — the un-memoized
    * core shared with the streaming incremental dedup
    * ([[graft.streaming.StreamingCorpus]]), which signs each
    * micro-batch slice rather than a table directory.
    */
  private[graft] def minhashSignaturesFrom(docs: DataFrame): DataFrame =
    // words behind a Generate barrier (withWordsAttr rationale): the
    // shingle lambda indexes into the array, so an inlined split would
    // re-tokenize per shingle
    docs.select(col("doc_id"), explode(array(words)).as("words"))
      // no explicit <3-words filter: exploding the empty shingle array
      // drops short docs for free, and a pushed-down size(split(...))
      // predicate would re-derive the split inside the scan
      .select(col("doc_id"), explode(shingles).as("sg"))
      .select(col("doc_id"), md5(col("sg")).as("h"))
      .groupBy(col("doc_id"))
      .agg(array((0 until NumHashes).map(s => min(rotLong("h", s * 3))): _*)
        .as("sig"))

  /** LSH band keys over a `sig` column — `NumHashes / BandSize` keys,
    * shared by [[dedupMinhashLsh]] and the streaming store join.
    */
  private[graft] val sigBandKeysExpr: String =
    s"""transform(sequence(0, ${NumHashes / BandSize - 1}),
        b -> concat_ws('_', transform(slice(sig, b * $BandSize + 1, $BandSize),
                                      x -> CAST(x AS STRING))))"""

  /** MinHash exposed as a query: doc_id + signature, serialized to a
    * '|'-joined scalar (array-typed outputs crash the driver's compare;
    * see Assets.edgeList). The array form stays internal ([[minhashSignatures]]).
    */
  def minhash(spark: SparkSession, dir: String): DataFrame =
    minhashSignatures(spark, dir)
      .select(col("doc_id"),
        expr("concat_ws('|', transform(sig, x -> CAST(x AS STRING)))").as("sig"))

  /** MinHash + LSH near-duplicate candidate pairs: band the signature,
    * bucket-join on (band index, band key), estimate Jaccard from
    * signature agreement. The join is on band hashes — never a cross
    * join — so candidate generation is O(collisions), the scale path
    * for dedup at 100 TB.
    */
  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    lshBandPairsFrom(minhashSignatures(spark, dir))
      .select(col("doc_a"), col("doc_b"),
        (expr(s"size(filter(sequence(1, $NumHashes), i -> sig_a[i - 1] = sig_b[i - 1]))")
          .cast("double") / NumHashes).as("est_jaccard"))
      .distinct()

  /** Band-collision candidate pairs over any (doc_id, sig) frame —
    * (doc_a, doc_b, sig_a, sig_b), a < b, one row per colliding band.
    * The un-memoized core of [[dedupMinhashLsh]], shared with the
    * streaming export store's read side so the edge set the store's
    * cluster stage propagates over is THE batch definition.
    */
  private[graft] def lshBandPairsFrom(sigs: DataFrame): DataFrame = {
    val bands = sigs.select(
      col("doc_id"), col("sig"),
      posexplode(expr(sigBandKeysExpr))
        .as(Seq("band_idx", "band_key")))
    val a = bands.select(col("doc_id").as("doc_a"), col("sig").as("sig_a"),
      col("band_idx"), col("band_key"))
    val b = bands.select(col("doc_id").as("doc_b"), col("sig").as("sig_b"),
      col("band_idx"), col("band_key"))
    a.join(b, Seq("band_idx", "band_key"))
      .where(col("doc_a") < col("doc_b"))
  }

  /** Exact n-gram Jaccard over LSH candidate pairs: verify candidates
    * with true shingle-set overlap. Composes the LSH prefilter (cheap,
    * approximate) with exact verification (expensive, only on
    * candidates) — the canonical two-stage dedup at scale.
    */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val pairs = dedupMinhashLsh(spark, dir).select(col("doc_a"), col("doc_b"))
    val sh = withShingles(spark, dir)
      .select(col("doc_id"), array_distinct(col("shingles")).as("sh"))
      // same barrier rationale as minhashSignatures: materialize the
      // shingle sets once; both enrichment joins reuse the exchange
      .repartition(col("doc_id"))
    pairs
      .join(sh.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), Seq("doc_a"))
      .join(sh.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          (size(col("sh_a")) + size(col("sh_b")) -
            size(array_intersect(col("sh_a"), col("sh_b")))))
          .as("jaccard"))
  }

  /** Exact-Jaccard acceptance threshold for [[fuzzyJoin]] — set at the
    * LSH design point (3 bands of 3 → s-curve midpoint ≈ 0.69^…), low
    * enough that every true near-dup the bands surface survives
    * verification.
    */
  val FuzzyJoinThreshold = 0.5

  /** Cross-corpus fuzzy JOIN (entity resolution / record linkage
    * between two document collections): match each document on the
    * LEFT side (even source index) to its near-duplicates on the RIGHT
    * side (odd), never within a side. Same two-stage shape as the
    * dedup family — banded MinHash-LSH candidate generation (a
    * bucket equi-join, O(collisions), never \|A\|×\|B\|) followed by
    * exact shingle-Jaccard verification on candidates only — but with
    * the join PREDICATE (side_a ≠ side_b) pushed into the candidate
    * stream: each band row carries its side, so within-side collisions
    * are dropped before any pairing materializes. This is the operator
    * a pipeline runs to link a fresh crawl against a curated corpus
    * (which duplicates does the new batch add?) or to align two
    * vendors' dumps.
    *
    * Shape at 100 TB: the signature table is the memoized dedup-family
    * artifact (built once, shared with self-dedup); the band join keys
    * on (band_idx, band_key) exactly as [[dedupMinhashLsh]]; the side
    * split adds one metadata column to the band rows, no extra
    * shuffle. Verification touches candidate pairs only.
    */
  def fuzzyJoin(spark: SparkSession, dir: String): DataFrame = {
    val side = Tables.documents(spark, dir)
      .select(col("doc_id"),
        (expr("CAST(substring(source, 4, 8) AS INT)") % 2).as("side"))
    val bands = minhashSignatures(spark, dir)
      .select(col("doc_id"),
        posexplode(expr(sigBandKeysExpr)).as(Seq("band_idx", "band_key")))
      .join(side, Seq("doc_id"))
    val l = bands.where(col("side") === 0)
      .select(col("doc_id").as("left_id"), col("band_idx"), col("band_key"))
    val r = bands.where(col("side") === 1)
      .select(col("doc_id").as("right_id"), col("band_idx"), col("band_key"))
    val cands = l.join(r, Seq("band_idx", "band_key"))
      .select(col("left_id"), col("right_id")).distinct()
    val sh = shingleSetsFrom(Tables.documents(spark, dir))
      .repartition(col("doc_id"))
    cands
      .join(sh.select(col("doc_id").as("left_id"), col("sh").as("sh_l")),
        Seq("left_id"))
      .join(sh.select(col("doc_id").as("right_id"), col("sh").as("sh_r")),
        Seq("right_id"))
      .select(col("left_id"), col("right_id"),
        (size(array_intersect(col("sh_l"), col("sh_r"))).cast("double") /
          (size(col("sh_l")) + size(col("sh_r")) -
            size(array_intersect(col("sh_l"), col("sh_r")))))
          .as("jaccard"))
      .where(col("jaccard") >= FuzzyJoinThreshold)
  }

  /** SimHash: 32-bit locality-sensitive fingerprint. Bit j is the sign
    * of the sum over tokens of ±1 from bit j of md5(token) (one bit per
    * hex digit). Near-duplicates share most bits; grouping by simhash
    * clusters exact-ish duplicates without any join.
    */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    // Explode + one digest per word + 32 integer sum aggregates: a
    // withColumn'd md5 array would be collapsed back INTO the 32 bit
    // lambdas by CollapseProject (32 digests per word); here the digest
    // is a plain per-row projection below a codegen'd HashAggregate
    // with map-side partial sums — the shuffle carries 32 longs per
    // doc. Sign of each integer sum is order-independent, so the
    // result is partition-count invariant.
    //
    // Bit extraction is integer arithmetic, not string ops: the digest
    // parses ONCE per row into three BIGINT limbs (15+15+2 hex chars,
    // all < 2^60 so conv is exact), and each bit j is a shift-and-mask
    // on its limb. The previous substring+instr form evaluated 32
    // string scans (with a UTF8String allocation each) per word —
    // measured 2.3x slower on identical data. Values are unchanged
    // (hex-digit parity either way), so the DuckDB oracle keeps its
    // per-digit form.
    val bitSums = (0 until 32).map { j =>
      val (limb, pos, width) =
        if (j < 15) ("h0", j, 15)
        else if (j < 30) ("h1", j - 15, 15)
        else ("h2", j - 30, 2)
      val shift = 4 * (width - 1 - pos)
      sum(expr(s"2 * CAST((shiftright($limb, $shift) & 1) AS INT) - 1")).as(s"b$j")
    }
    withWords(spark, dir)
      .select(col("doc_id"), explode(col("words")).as("w"))
      .select(col("doc_id"), md5(col("w")).as("h"))
      .select(col("doc_id"),
        expr("CAST(conv(substring(h, 1, 15), 16, 10) AS BIGINT)").as("h0"),
        expr("CAST(conv(substring(h, 16, 15), 16, 10) AS BIGINT)").as("h1"),
        expr("CAST(conv(substring(h, 31, 2), 16, 10) AS BIGINT)").as("h2"))
      .groupBy(col("doc_id"))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col("doc_id"),
        concat((0 until 32).map(j =>
          when(col(s"b$j") > 0, lit("1")).otherwise(lit("0"))): _*).as("simhash"))
  }

  /** [[simhash]] via the native [[graft.functions.SimHashAgg]]
    * aggregate: one typed buffer instead of 32 sum expressions — the
    * shuffle carries 128 bytes/doc in one column, and the 32-way
    * codegen unit disappears. Differential proof: registered as
    * `txt_simhash_native` against the SAME oracle as `txt_simhash`.
    */
  def simhashNative(spark: SparkSession, dir: String): DataFrame = {
    graft.plans.GraftExtensions.register(spark)
    withWords(spark, dir)
      .select(col("doc_id"), explode(col("words")).as("w"))
      .groupBy(col("doc_id"))
      .agg(expr("simhash_agg(w)").as("simhash"))
  }

  /** SimHash duplicate clusters: identical fingerprints bucketed.
    * Builds on the NATIVE aggregate (one 128-byte buffer per doc vs 32
    * sum expressions — 2.6× faster measured); [[simhash]] and
    * [[simhashNative]] are differentially proven equal against the
    * same oracle, so the cluster values are unchanged.
    */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashNative(spark, dir)
      .groupBy(col("simhash"))
      .agg(min(col("doc_id")).as("canonical_doc_id"),
        count(lit(1)).as("cluster_size"))
      .where(col("cluster_size") > 1)

  /** Fuzzy near-dup verification by edit distance, ONLY over LSH
    * candidate pairs — levenshtein is O(len²) per pair, so the banded
    * prefilter is what makes it affordable; running it all-pairs would
    * be quadratic in the corpus. Integer distances are trivially
    * engine-deterministic.
    */
  def dedupFuzzyEdit(spark: SparkSession, dir: String): DataFrame = {
    val pairs = dedupMinhashLsh(spark, dir).select(col("doc_a"), col("doc_b"))
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    pairs
      .join(docs.select(col("doc_id").as("doc_a"), col("text").as("text_a")), Seq("doc_a"))
      .join(docs.select(col("doc_id").as("doc_b"), col("text").as("text_b")), Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("text_a"), col("text_b")).cast("long").as("edit_distance"),
        greatest(length(col("text_a")), length(col("text_b"))).cast("long")
          .as("max_len"))
  }

  /** Deterministic train/val/test split by content-stable hash — the
    * split must not depend on row order, partitioning, or a seed that
    * can drift between runs, so the bucket is a digest of the document
    * id: md5 prefix parsed as a 60-bit int, mod 100 (90/5/5). Identical
    * in DuckDB via the explicit hex fold.
    */
  def split90_5_5(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      expr("""CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10)
              AS BIGINT) % 100""").as("bucket"))
      .select(col("doc_id"), col("bucket"),
        when(col("bucket") < 90, lit("train"))
          .when(col("bucket") < 95, lit("val"))
          .otherwise(lit("test")).as("split"))

  /** Text normalization — the cleaning pass that precedes tokenization
    * in a pretraining pipeline: lowercase, strip non-alphanumerics,
    * collapse whitespace runs, trim. Patterns stay in the ASCII subset
    * where Java regex (Spark) and RE2 (DuckDB) agree, so the oracle is
    * exact.
    */
  def normalize(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      trim(regexp_replace(regexp_replace(lower(col("text")),
        "[^a-z0-9 ]", " "), " +", " ")).as("text_clean"),
      length(col("text")).cast("long").as("n_chars_raw"),
      length(trim(regexp_replace(regexp_replace(lower(col("text")),
        "[^a-z0-9 ]", " "), " +", " "))).cast("long").as("n_chars_clean"))

  /** Rounds of min-label propagation in [[dedupClusters]]. Bounded and
    * unrolled so the DuckDB oracle mirrors the EXACT same computation;
    * near-dup clusters are short chains (pair graph diameter small), so
    * 3 rounds converge on real data. A pair graph of unknown diameter
    * takes [[GraphOps.starContract]] instead ([[dedupClustersStar]]),
    * whose round count does not grow with the diameter.
    */
  val CcRounds = 3

  /** The symmetrized (doc_a, doc_b) LSH pair graph, memoized: it is the
    * labelers' iteration-invariant input, and every labeling round
    * would otherwise re-derive the whole LSH pipeline (any iterative
    * graph algorithm on Spark must pin its edge set).
    */
  private def lshEdges(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, dir, "lsh_edges") {
      val pairs = dedupMinhashLsh(spark, dir).select(col("doc_a"), col("doc_b"))
      pairs.unionAll(
        pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
    }

  /** A (node, label) labeling as the cluster table. */
  private def clusterTable(labels: DataFrame): DataFrame =
    labels.select(
      col("node").as("doc_id"),
      col("label").as("cluster_id"),
      count(lit(1)).over(Window.partitionBy(col("label"))).as("cluster_size"))

  /** Near-duplicate CLUSTERS from LSH candidate pairs via bounded
    * min-label propagation (connected components): every doc in a pair
    * graph gets the minimum doc_id of its component as cluster id — the
    * canonical representative — so "keep one per cluster" is a simple
    * filter downstream.
    */
  def dedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val edges = lshEdges(spark, dir)
    // the propagated labels are themselves a shared artifact: both the
    // standalone clusters query and corpus_curation's near-dup-loser
    // stage consume them — one labeling per session
    clusterTable(memoized(spark, dir, "cc_labels") { propagateBounded(edges) })
  }

  /** The [[CcRounds]]-bounded min-label propagation over a symmetrized
    * (doc_a, doc_b) edge set — the EXACT unrolled computation the
    * DuckDB oracle mirrors, and the library's one min-label round:
    * the text and embedding cluster queries, the export chain and the
    * multimodal dedup all label through here. A round is one
    * neighbor-min join + least() update, and the round's labels feed
    * both, so the rounds run through [[Artifacts.iterate]], which cuts
    * each one (uncut, round r's plan holds 2^r copies of round 0).
    */
  private[graft] def propagateBounded(edges: DataFrame): DataFrame = {
    val nodes = edges.select(col("doc_a").as("node")).distinct()
    Artifacts.iterate(nodes.withColumn("label", col("node")), CcRounds) { l =>
      val nbrMin = edges
        .join(l.select(col("node").as("doc_b"), col("label")), Seq("doc_b"))
        .groupBy(col("doc_a").as("node"))
        .agg(min(col("label")).as("nbr_label"))
      l.join(nbrMin, Seq("node"), "left")
        .select(col("node"),
          least(col("label"), coalesce(col("nbr_label"), col("label"))).as("label"))
    }._1
  }

  /** [[dedupClusters]] labeled to FIXPOINT by alternating
    * large-star/small-star contraction ([[GraphOps.starContract]])
    * instead of bounded min-label propagation — the O(log² n)-round
    * scale path whose round count is independent of the pair-graph
    * DIAMETER (propagation pays one round per hop; a single long
    * near-dup chain at 100 TB makes that thousands of rounds).
    * Identical labeling on the fixture (component minimum; its diameter
    * is below [[CcRounds]]), so this registers against the SAME oracle
    * as `dedup_clusters`, under two names (`dedup_clusters_star` and
    * `dedup_clusters_fixpoint`) — a differential proof of a different
    * algorithm, not just a different round count.
    */
  def dedupClustersStar(spark: SparkSession, dir: String): DataFrame =
    clusterTable(GraphOps.starContract(lshEdges(spark, dir))._1)

  /** End-to-end corpus curation — the composed training-data pipeline:
    * quality gate → exact-dup removal (keep smallest doc_id per content
    * hash) → near-dup removal (keep each LSH cluster's canonical) →
    * per-language corpus stats. Every stage is one of the operators
    * above; the composition is what a 100 TB pretraining-data job runs.
    * Stats stick to exact integers and min/max (no double sums), so the
    * output is partition- and engine-deterministic.
    */
  val MinWords = 20
  val MinUniqRatio = 0.3

  def corpusCuration(spark: SparkSession, dir: String): DataFrame = {
    val q = quality(spark, dir)
      .where(col("n_words") >= MinWords && col("uniq_ratio") >= MinUniqRatio)
      .select(col("doc_id"), col("n_words"))
    val exactCanonical = dedupExact(spark, dir)
      .select(col("canonical_doc_id").as("doc_id"))
    val nearDupLosers = dedupClusters(spark, dir)
      .where(col("doc_id") =!= col("cluster_id"))
      .select(col("doc_id"))
    val kept = q
      .join(exactCanonical, Seq("doc_id"), "left_semi")
      .join(nearDupLosers, Seq("doc_id"), "left_anti")
    kept
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang")), Seq("doc_id"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_words_total"),
        min(col("doc_id")).as("first_doc"),
        max(col("doc_id")).as("last_doc"))
  }

  /** Sampling resolution for [[corpusExport]]'s mixture stage (basis
    * points: rate quantized to 1/10000, decided by a content-hash
    * bucket — the [[sampleStratified]] device at finer grain).
    */
  val ExportRateBp = 10000L

  /** Stage-by-stage survivor frames of the composed training-set
    * EXPORT pipeline — the artifact chain every pretraining run
    * consumes: quality gate → exact-dup canonical keep → near-dup
    * cluster-loser drop → eval-set decontamination (eval-stride docs
    * themselves leave the training set here, by construction of
    * [[decontaminate]]'s output) → mixture downsampling. Every stage
    * is one of the library's proven operators; this seam returns
    * (stage name, survivors with per-doc token counts) so the manifest
    * and attrition queries — and the conservation spec — read one
    * definition.
    *
    * The mixture stage APPLIES [[mixWeights]]'s α = 0.5 temperature:
    * per-token acceptance ∝ share^(α−1) = 1/√share, normalized to 1
    * at the smallest surviving source — i.e. rate(s) = √(T_min/T_s),
    * quantized to [[ExportRateBp]] basis points and decided by a
    * deterministic md5-of-content bucket. Kept token mass per source
    * is then ∝ √share — exactly the mix_weight proportion the weights
    * table promises. The rate arithmetic is int/int division in
    * double + one IEEE sqrt (the [[mixWeights]] float discipline), so
    * both engines compute the identical basis-point cutoffs.
    *
    * Scale shape: each stage is a semi/anti-join of the survivor id
    * set against an already-audited operator's output; the mixture
    * aggregate is per-source (S rows, broadcast back). At 100 TB a
    * pipeline materializes each stage's survivor set instead of
    * re-deriving it per downstream query — in-session that
    * materialization is the dedup family's memoized artifacts, which
    * stages 2–3 read.
    */
  private[graft] def exportStages(spark: SparkSession, dir: String): Seq[(String, DataFrame)] = {
    // every stage frame is memoized: the attrition query reads each
    // stage twice (in + kept) and the manifest reads the last — the
    // in-session analog of a cluster pipeline WRITING each stage's
    // survivor set once instead of re-deriving the dedup chain per
    // downstream consumer
    // every stage memo body is lineage-CUT: a persisted-only chain
    // keeps each stage's full logical plan nested inside the next
    // stage's (s5 embeds s4 embeds s3 …), and the manifest's executed
    // plan blows up to 13k lines — ~3 s of pure planning per FRESH
    // query instance even with every byte cached (measured). The cut
    // flattens each stage to a LogicalRDD, so downstream plans are
    // one join layer deep and planning is milliseconds.
    val base = memoized(spark, dir, "export_base") {
      cutLineage(exportBaseFrom(Tables.documents(spark, dir)))
    }
    val s1 = memoized(spark, dir, "export_s1") {
      val q = quality(spark, dir)
        .where(col("n_words") >= MinWords && col("uniq_ratio") >= MinUniqRatio)
        .select(col("doc_id"))
      cutLineage(base.join(q, Seq("doc_id"), "left_semi"))
    }
    val s2 = memoized(spark, dir, "export_s2") {
      cutLineage(s1.join(
        dedupExact(spark, dir).select(col("canonical_doc_id").as("doc_id")),
        Seq("doc_id"), "left_semi"))
    }
    val s3 = memoized(spark, dir, "export_s3") {
      cutLineage(s2.join(
        dedupClusters(spark, dir).where(col("doc_id") =!= col("cluster_id"))
          .select(col("doc_id")),
        Seq("doc_id"), "left_anti"))
    }
    val s4 = memoized(spark, dir, "export_s4") {
      cutLineage(s3.join(
        decontaminate(spark, dir).where(col("keep")).select(col("doc_id")),
        Seq("doc_id"), "left_semi"))
    }
    val s5 = memoized(spark, dir, "export_s5") {
      cutLineage(mixSampleFrom(s4))
    }
    Seq("corpus" -> base, "quality" -> s1, "dedup_exact" -> s2,
      "dedup_near" -> s3, "decontaminate" -> s4, "mix_sample" -> s5)
  }

  /** The export base frame over any documents frame: per-doc token
    * count plus the content-hash sampling bucket and shard — every
    * derivation per-doc, so the streaming store computes it
    * batch-locally from THIS definition.
    */
  private[graft] def exportBaseFrom(docs: DataFrame): DataFrame =
    docs.withColumn("words", words).select(
      col("doc_id"), col("source"),
      size(col("words")).cast("long").as("n_tokens"),
      (rotLong("md5(text)", 0) % ExportRateBp).as("bucket"),
      (rotLong("md5(text)", 0) % NumShards).as("shard"))

  /** The mixture stage over any decontaminated survivor frame —
    * α = 0.5 temperature rates from the frame's OWN per-source token
    * masses (see [[exportStages]] for the arithmetic discipline).
    * Shared by the batch chain and the streaming read side.
    */
  private[graft] def mixSampleFrom(s4: DataFrame): DataFrame = {
    val perSrc = s4.groupBy(col("source")).agg(sum(col("n_tokens")).as("t_s"))
    val tMin = perSrc.agg(min(col("t_s")).as("t_min"))
    val rates = perSrc.crossJoin(broadcast(tMin)).select(
      col("source"),
      floor(sqrt(col("t_min").cast("double") / col("t_s").cast("double"))
        * ExportRateBp).cast("long").as("rate_bp"))
    s4.join(broadcast(rates), Seq("source"))
      .where(col("bucket") < col("rate_bp"))
      .select(s4.columns.map(col): _*)
  }

  /** The export SHARD MANIFEST — what the training loader mounts: per
    * content-hash shard of the final survivor set, document count,
    * token mass, and the packed-sequence count at [[PackBudget]]
    * tokens (contiguous greedy fill per shard ⇒ exactly
    * ⌈tokens/budget⌉ sequences). Integer arithmetic end to end.
    */
  def corpusExport(spark: SparkSession, dir: String): DataFrame =
    exportManifestFrom(exportStages(spark, dir).last._2)

  /** The per-doc export FEATURE frame over any (doc_id, text, source)
    * frame: the [[exportBaseFrom]] columns + quality verdict + content
    * digest + MinHash signature (null for short docs, which can never
    * near-match). Every column is a per-doc derivation — the streaming
    * export store ([[graft.streaming.StreamingExport]]) computes this
    * batch-locally as its persisted slice.
    */
  def exportFeaturesFrom(docs: DataFrame): DataFrame = {
    val base = exportBaseFrom(docs)
    val qpass = qualityFrom(docs)
      .where(col("n_words") >= MinWords && col("uniq_ratio") >= MinUniqRatio)
      .select(col("doc_id"), lit(true).as("q_pass"))
    val digests = docs.select(col("doc_id"), md5(col("text")).as("digest"))
    base
      .join(qpass, Seq("doc_id"), "left")
      .join(digests, Seq("doc_id"))
      .join(minhashSignaturesFrom(docs), Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_tokens"), col("bucket"),
        col("shard"), coalesce(col("q_pass"), lit(false)).as("q_pass"),
        col("digest"), col("sig"))
  }

  /** The export stage chain over an arbitrary feature frame + gram
    * slice (the (spark, dir)-free core): quality filter, exact-dup
    * canonical keep (min doc_id per digest over THIS frame), LSH
    * cluster-loser drop (band pairs over the frame's signatures,
    * propagated the batch way), decontamination (eval docs leave; a
    * train doc survives iff its gram set misses every eval gram), and
    * the temperature mixture. Consumed by the streaming export store's
    * read side (slices) and [[corpusExportFrom]] (direct frames) —
    * one definition for every deployment shape.
    */
  def exportStagesFrom(feat: DataFrame,
      grams: DataFrame): Seq[(String, DataFrame)] = {
    val baseCols = Seq("doc_id", "source", "n_tokens", "bucket", "shard")
      .map(col)
    val base = feat.select(baseCols: _*)
    val s1 = feat.where(col("q_pass")).select(baseCols: _*)
    val canon = feat.groupBy(col("digest"))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    val s2 = s1.join(canon, Seq("doc_id"), "left_semi")
    val sigs = feat.where(col("sig").isNotNull)
      .select(col("doc_id"), col("sig"))
    val pairs = lshBandPairsFrom(sigs)
      .select(col("doc_a"), col("doc_b")).distinct()
    val edges = cutLineage(pairs.unionAll(
      pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b"))))
    val losers = propagateBounded(edges)
      .where(col("node") =!= col("label"))
      .select(col("node").as("doc_id"))
    val s3 = s2.join(losers, Seq("doc_id"), "left_anti")
    val isEval = pmod(col("doc_id"), lit(EvalStride.toLong)) === 0
    val evalGrams = grams.where(isEval).select(col("g")).distinct()
    val contaminated = grams.where(!isEval)
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .select(col("doc_id")).distinct()
    val s4 = s3.where(!isEval)
      .join(contaminated, Seq("doc_id"), "left_anti")
    val s5 = mixSampleFrom(s4)
    Seq("corpus" -> base, "quality" -> s1, "dedup_exact" -> s2,
      "dedup_near" -> s3, "decontaminate" -> s4, "mix_sample" -> s5)
  }

  /** [[corpusExport]] over any documents frame — the public
    * curate-anything entry (and the scale probe's seam for the
    * composed chain). Un-memoized: a production pipeline materializes
    * each stage once instead.
    */
  def corpusExportFrom(docs: DataFrame): DataFrame =
    exportManifestFrom(
      exportStagesFrom(exportFeaturesFrom(docs),
        contamDocGramsFrom(docs)).last._2)

  /** Shard manifest over any final survivor frame (shared batch /
    * streaming-read definition). */
  private[graft] def exportManifestFrom(survivors: DataFrame): DataFrame =
    survivors.groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
      .select(col("shard"), col("n_docs"), col("n_tokens"),
        expr(s"CAST((n_tokens + ${PackBudget - 1}) DIV $PackBudget AS BIGINT)")
          .as("n_seqs"))

  /** Per-stage ATTRITION of the export pipeline — the audit sidecar a
    * compliance review reads next to the manifest: docs in, kept, and
    * dropped at every gate (TextOpsSpec proves conservation and that
    * consecutive stages chain). Each row is a pair of 1-row counts
    * cross-joined — at fixture scale the stages re-derive per row; a
    * cluster pipeline writes each stage once and counts the files.
    */
  def corpusExportStages(spark: SparkSession, dir: String): DataFrame =
    exportAttritionFrom(exportStages(spark, dir))

  /** Attrition rows over any stage chain (shared batch /
    * streaming-read definition). */
  private[graft] def exportAttritionFrom(stages: Seq[(String, DataFrame)]): DataFrame = {
    // one count per stage, unioned, paired by a lag over the 6-row
    // frame — ONE job instead of the 2-aggregates-per-pair crossJoin
    // form, whose broadcast subtrees each ran as their own job (10
    // actions; the r11 verdict's suite-wall watch item, measured
    // 11.1 s → the single-action shape)
    val counts = stages.zipWithIndex.map { case ((nm, df), i) =>
      df.agg(count(lit(1)).as("n"))
        .select(lit(i.toLong).as("ord"), lit(nm).as("stage"), col("n"))
    }.reduce(_.unionAll(_))
    val w = Window.orderBy(col("ord"))
    counts
      .withColumn("docs_in", lag(col("n"), 1).over(w))
      .where(col("ord") >= 1)
      .select(col("ord").as("stage_ord"), col("stage"),
        col("docs_in"), col("n").as("docs_kept"),
        (col("docs_in") - col("n")).as("docs_dropped"))
  }

  /** TF-IDF top terms per document. Classic shape: explode → per-(doc,
    * term) counts (one shuffle with map-side combine) → document
    * frequency per term (second partial agg) → term-keyed shuffle join
    * of df back (deliberately unhinted — see inline note) →
    * per-doc top-3 window. The idf here is the LOG-FREE ratio
    * (N+1)/(df+1): natural log is not guaranteed bit-identical across
    * engines (libm vs DuckDB's), and rank order is unchanged under any
    * monotone transform, so the deterministic ratio keeps the oracle
    * hash-exact without changing which terms win.
    */
  /** The materialized inverted index: (doc_id, term, tf) postings —
    * what a search deployment STORES (ES's own index structure; the
    * incremental twin [[graft.streaming.StreamingRetrieval]] maintains
    * exactly this per batch). Memoized so the whole retrieval family
    * ([[tfidf]], [[bm25Ranked]], [[sigTerms]], and [[Retrieval
    * .hybridRrf]] through all three) reads the one artifact instead of
    * each re-running the tokenize-explode-aggregate — the in-session
    * analog of the index the ingest job wrote. Distinct (doc, term)
    * pairs by construction (tf ≥ 1), so `SELECT doc_id, term` IS the
    * doc-frequency relation.
    */
  private[graft] def postingsIndex(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, dir, "postings_index") {
      withWords(spark, dir)
        .select(col("doc_id"), explode(col("words")).as("term"))
        .groupBy(col("doc_id"), col("term"))
        .agg(count(lit(1)).as("tf"))
    }

  /** POSITIONAL postings (doc_id, pos, term), 1-based — the "with
    * positions" half of an inverted index ([[postingsIndex]] stores
    * frequencies; this stores WHERE, the structure ES/Lucene consult
    * for `match_phrase` and proximity queries). Memoized like the tf
    * postings: built once per session, read by every phrase query.
    * ~L rows per document of L words — the same explode the tf index
    * pays, without the aggregate.
    */
  private[graft] def positionsIndex(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, dir, "positions_index") {
      withWords(spark, dir)
        .select(col("doc_id"),
          posexplode(col("words")).as(Seq("pos0", "term")))
        .select(col("doc_id"), (col("pos0") + 1).cast("long").as("pos"),
          col("term"))
    }

  /** Fixed phrase workload — (query_id, exact word sequence); literal
    * on both engines (the [[bm25Queries]] serving-table stand-in).
    * Includes a 3-word phrase, a repeated-term phrase, and a phrase
    * with an out-of-vocabulary word (matches nothing — negative).
    */
  val PhraseQueries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("order", "fast"),
    1L -> Seq("stream", "column"),
    2L -> Seq("big", "order", "scan"),
    3L -> Seq("order", "order"),
    4L -> Seq("slow", "zebra"))

  /** Phrase retrieval over [[positionsIndex]] — ES `match_phrase`: a
    * phrase of terms t₀…tₙ₋₁ occurs at start s iff tᵢ sits at position
    * s+i for EVERY i. Relational form (no self-join chain per term):
    * each posting row matching any (query, offset, term) of the
    * broadcast workload proposes start = pos − offset; a (query, doc,
    * start) group where the count of DISTINCT offsets equals the
    * phrase length is a complete occurrence. One corpus-sized shuffle
    * on (query, doc, start) — and only for postings whose term appears
    * in some phrase (the broadcast join drops the rest map-side, the
    * [[bm25Ranked]] pre-shuffle cut). `countDistinct(offset)` (not
    * count(*)) keeps repeated-term phrases exact: one position can
    * satisfy two offsets of "order order" but contributes each offset
    * once. Emits per (query, doc): occurrence count and the first
    * match position (1-based).
    */
  /** `match_phrase_prefix` workload — (query_id, fixed terms, final
    * prefix): a one-word prefix tail, a bare prefix (no fixed slot),
    * an out-of-vocabulary prefix (negative), and a case where the
    * fixed term itself also matches the prefix slot.
    */
  val MppQueries: Seq[(Long, Seq[String], String)] = Seq(
    (0L, Seq("big"), "ord"),
    (1L, Seq("stream"), "col"),
    (2L, Seq.empty, "cust"),
    (3L, Seq("slow"), "zeb"),
    (4L, Seq("order"), "or"))

  /** ES `max_expansions` (default 50): the prefix slot expands to at
    * most this many vocabulary terms, FIRST in term order — exactly
    * ES's index-term-order truncation, deterministic on both engines.
    */
  val MppMaxExpansions = 50

  /** ES `match_phrase_prefix` (search-as-you-type phrase): the phrase
    * device with the LAST slot expanded through the completion
    * device — fixed terms t₀…tₙ₋₂ must sit at s…s+n−2 and ANY
    * vocabulary term extending the prefix at s+n−1. The expansion is
    * the capped prefix-key equi-join ([[suggestCompletionFrom]]'s
    * index shape) ranked (term ASC) to [[MppMaxExpansions]]; the
    * expanded rows simply UNION into the phrase workload at the final
    * offset, and [[phraseSearch]]'s distinct-offset completeness
    * count is already correct under multiple admissible terms per
    * slot (each offset counts once however many expansions land on
    * it). Corpus-side cost identical to the plain phrase: one
    * broadcast-cut positional shuffle.
    */
  def phrasePrefixSearch(spark: SparkSession, dir: String,
      workload: Seq[(Long, Seq[String], String)] = MppQueries): DataFrame = {
    import spark.implicits._
    val fixed = workload.flatMap { case (q, ts, _) =>
      ts.zipWithIndex.map { case (t, o) => (q, o.toLong, t, ts.length + 1L) }
    }.toDF("query_id", "off", "term", "plen")
    val prefixes = workload
      .map { case (q, ts, p) => (q, ts.length.toLong, p, ts.length + 1L) }
      .toDF("query_id", "off", "prefix", "plen")
      .select(col("query_id"), col("off"), col("prefix"), col("plen"),
        expr(s"substr(prefix, 1, $CompletionMaxPrefix)").as("key"))
    val vkeys = postingsIndex(spark, dir).select(col("term")).distinct()
      .select(col("term"), explode(expr(
        s"""transform(sequence(1, least(length(term), $CompletionMaxPrefix)),
           |  i -> substr(term, 1, i))""".stripMargin)).as("key"))
    val expansions = vkeys.join(broadcast(prefixes), Seq("key"))
      .where(expr("substr(term, 1, length(prefix)) = prefix"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("term").asc)))
      .where(col("rk") <= MppMaxExpansions)
      .select(col("query_id"), col("off"), col("term"), col("plen"))
    val qterms = fixed.unionByName(expansions)
    positionsIndex(spark, dir)
      .join(broadcast(qterms), Seq("term"))
      .select(col("query_id"), col("plen"), col("doc_id"),
        (col("pos") - col("off")).as("start"), col("off"))
      .groupBy(col("query_id"), col("plen"), col("doc_id"), col("start"))
      .agg(countDistinct(col("off")).as("n_hit"))
      .where(col("n_hit") === col("plen"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"),
        min(col("start")).as("first_pos"))
  }

  /** ES `match_bool_prefix` — the last search-as-you-type member: the
    * typed terms become a bool-OR of term clauses and the final
    * (still-being-typed) slot expands through the capped prefix index
    * (the [[phrasePrefixSearch]] tail device WITHOUT the adjacency
    * constraint — ES's own distinction between the two queries). A doc
    * matches when ANY clause does; the per-doc summary reports how
    * (distinct full terms, distinct prefix-expanded terms, total tf
    * mass — a full term that also lands in the expansion set counts in
    * both, exactly as two ES should-clauses both scoring one doc).
    * Shares [[MppQueries]] — the same user keystrokes, the OR reading.
    */
  def boolPrefixSearch(spark: SparkSession, dir: String,
      workload: Seq[(Long, Seq[String], String)] = MppQueries): DataFrame = {
    import spark.implicits._
    val fullTerms = workload.flatMap { case (q, ts, _) => ts.map(t => (q, t)) }
      .toDF("query_id", "term")
      .withColumn("is_prefix", lit(0))
    val prefixes = workload.map { case (q, _, p) => (q, p) }
      .toDF("query_id", "prefix")
      .select(col("query_id"), col("prefix"),
        expr(s"substr(prefix, 1, $CompletionMaxPrefix)").as("key"))
    val vkeys = postingsIndex(spark, dir).select(col("term")).distinct()
      .select(col("term"), explode(expr(
        s"""transform(sequence(1, least(length(term), $CompletionMaxPrefix)),
           |  i -> substr(term, 1, i))""".stripMargin)).as("key"))
    val expansions = vkeys.join(broadcast(prefixes), Seq("key"))
      .where(expr("substr(term, 1, length(prefix)) = prefix"))
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("query_id")).orderBy(col("term").asc)))
      .where(col("rk") <= MppMaxExpansions)
      .select(col("query_id"), col("term"))
      .withColumn("is_prefix", lit(1))
    postingsIndex(spark, dir)
      .join(broadcast(fullTerms.unionByName(expansions)), Seq("term"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(
        countDistinct(when(col("is_prefix") === 0, col("term")))
          .as("n_terms_matched"),
        countDistinct(when(col("is_prefix") === 1, col("term")))
          .as("n_prefix_terms"),
        sum(col("tf")).as("total_tf"))
  }

  def phraseSearch(spark: SparkSession, dir: String,
      workload: Seq[(Long, Seq[String])] = PhraseQueries): DataFrame = {
    import spark.implicits._
    val qterms = workload.flatMap { case (q, ts) =>
      ts.zipWithIndex.map { case (t, o) => (q, o.toLong, t, ts.length.toLong) }
    }.toDF("query_id", "off", "term", "plen")
    positionsIndex(spark, dir)
      .join(broadcast(qterms), Seq("term"))
      .select(col("query_id"), col("plen"), col("doc_id"),
        (col("pos") - col("off")).as("start"), col("off"))
      .groupBy(col("query_id"), col("plen"), col("doc_id"), col("start"))
      .agg(countDistinct(col("off")).as("n_hit"))
      .where(col("n_hit") === col("plen"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"),
        min(col("start")).as("first_pos"))
  }

  /** Per-document token lengths — the index sidecar [[bm25Ranked]]'s
    * length normalization reads (null-text docs keep a null dl so
    * count(dl)/sum(dl) skip them, the cross-engine convention).
    */
  private[graft] def docLenIndex(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, dir, "doclen_index") {
      withWords(spark, dir)
        .select(col("doc_id"), size(col("words")).as("dl"))
    }

  /** Per-term dictionary statistics sidecar: document frequency and
    * total term frequency for every vocabulary term — the stats a
    * Lucene term dictionary stores next to each term's postings list
    * (docFreq / totalTermFreq). Memoized like [[postingsIndex]]: built
    * once per session (warmup-accounted), then every BM25 tower,
    * [[moreLikeThis]]'s seed-term selection and the suggesters READ
    * their per-term df/freq instead of each re-aggregating the
    * postings — at 100 TB that converts a vocabulary-keyed corpus
    * aggregate per query into an index read. `df` here equals the
    * per-query-vocabulary count the towers previously computed from
    * the restricted postings (count of (doc, term) rows per term —
    * the restriction never changes a term's own row count).
    */
  private[graft] def termStats(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, dir, "term_stats") {
      postingsIndex(spark, dir)
        .groupBy(col("term"))
        .agg(count(lit(1)).as("df"), sum(col("tf")).as("freq"))
    }

  /** Index-level BM25 statistics (document count, total token count)
    * collected ONCE per corpus generation from the memoized
    * [[docLenIndex]] ([[Artifacts.scalar]]): a deployment stores these
    * two numbers in the index stats block, it does not re-aggregate doc
    * lengths per query. The one collect job reads the already-cached
    * sidecar (never an extra corpus scan), and the values embed as
    * literals so each tower drops both the 1-row stats aggregate and
    * its broadcast round-trip. count/sum skip null-dl docs exactly
    * like the frame aggregate they replace.
    */
  private[graft] def bm25Stats(spark: SparkSession, dir: String): (Long, Long) =
    Artifacts.scalar(spark, dir, "bm25_stats") {
      val r = docLenIndex(spark, dir)
        .agg(count(col("dl")).as("n_docs"), sum(col("dl")).as("dl_sum"))
        .head()
      // sum() is NULL on an empty corpus (count 0) — read it null-safe
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }

  def tfidf(spark: SparkSession, dir: String): DataFrame =
    tfidfTopTerms(spark, dir)

  /** The stored TERM-VECTOR sidecar: [[tfidf]]'s per-doc top-terms
    * table, memoized. A query-by-document retrieval tier reads each
    * query doc's most informative terms from the index's stored term
    * vectors (ES keeps exactly this for `more_like_this`), it does not
    * re-rank the whole vocabulary per request — so the hybrid family's
    * lex towers ([[Retrieval]]) read this artifact, while the
    * registered [[tfidf]] query keeps computing live from the postings
    * (it IS the gauge of that computation). Same build, bit-identical
    * rows, cold cost accounted in warmup like every stored artifact.
    */
  private[graft] def termVectors(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, dir, "term_vectors") { tfidfTopTerms(spark, dir) }

  private def tfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    // Corpus size as a broadcast 1-row aggregate (the q20ScalarSubquery
    // pattern), NOT an eager .count(): an action at plan-construction
    // time is an extra full pass over the corpus before the query even
    // starts — at 100 TB that is the difference between one scan and
    // two. The docFreq join is deliberately NOT broadcast-hinted: the
    // vocabulary is billions of terms at web scale, so the term-keyed
    // shuffle join is the scale shape (AQE still broadcasts it at small
    // SF when it measures under the threshold).
    val nDocs = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val termCounts = postingsIndex(spark, dir)
      .select(col("doc_id"), col("term").as("word"), col("tf"))
    val docFreq = termCounts
      .groupBy(col("word"))
      .agg(count(lit(1)).as("df"))
    val scored = termCounts
      .join(docFreq, Seq("word"))
      .crossJoin(broadcast(nDocs))
      .select(col("doc_id"), col("word"), col("tf"),
        (col("tf") * ((col("n_docs") + lit(1.0)) / (col("df") + lit(1.0))))
          .as("tfidf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("tfidf").desc, col("word").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("word"), col("tf"), col("tfidf"))
  }

  /** Eval-set decontamination: remove training documents that share any
    * word [[ContamNgram]]-gram with a held-out evaluation set — the
    * benchmark-contamination filter every pretraining pipeline runs
    * before training. The eval set here is a deterministic doc_id
    * stride (stand-in for the real benchmark corpus, which at scale
    * arrives as its own table).
    *
    * Shape at 100 TB: the eval side is always tiny relative to the
    * corpus, so its distinct n-gram digests broadcast; the corpus
    * streams through a broadcast LEFT SEMI join that drops ~everything
    * BEFORE the per-doc aggregation, so the only shuffle carries the
    * contaminated (doc, gram) pairs. Output is per-doc: hit count and
    * keep flag (the decontaminated corpus is `WHERE keep`).
    */
  val ContamNgram = 5
  val EvalStride = 17

  private def contamGrams: Column = when(size(col("words")) >= ContamNgram,
    expr(s"""transform(sequence(0, size(words) - $ContamNgram),
             i -> md5(concat_ws(' ', slice(words, i + 1, $ContamNgram))))"""))
    .otherwise(expr("CAST(array() AS array<string>)"))

  def decontaminate(spark: SparkSession, dir: String): DataFrame =
    decontaminateImpl(spark, dir, bloomPrefilter = false)

  /** COMPOSED decontamination report — the text-side twin of the
    * cross-modal dedup composition (MultimodalOps.mediaSemdedup): one
    * row per training candidate combining BOTH leakage signals a
    * modern pipeline runs — the surface n-gram filter
    * ([[decontaminate]], catches verbatim benchmark text) and the
    * embedding-space filter (VectorOps.embDecontaminate, catches
    * paraphrases/translations that share no n-gram) — over the
    * aligned documents/embeddings id space. The inner join IS the
    * candidate definition: docs in either eval role (the two strides
    * are coprime by design) are eval material, not training
    * candidates. keep = clean under BOTH filters; the per-signal
    * columns are the audit a contamination review reads.
    *
    * Shape: both inputs are the audited operators (broadcast
    * eval-gram semi-join; banded Hamming-probe candidates + exact
    * cosine); the composition adds one doc-keyed join.
    */
  def decontaminateMulti(spark: SparkSession, dir: String): DataFrame =
    decontaminate(spark, dir)
      .select(col("doc_id"), col("lang"), col("n_hit_ngrams"),
        (col("n_hit_ngrams") > 0).as("surface_hit"))
      .join(VectorOps.embDecontaminate(spark, dir)
        .select(col("vec_id").as("doc_id"), col("n_hits").as("n_sem_hits"),
          col("max_sim"), (col("n_hits") > 0).as("semantic_hit")),
        Seq("doc_id"))
      .withColumn("keep", !col("surface_hit") && !col("semantic_hit"))

  /** Per-doc DISTINCT contamination n-gram digests over any (doc_id,
    * text) frame — the decontamination slice the streaming export
    * store persists per micro-batch (docs with < [[ContamNgram]]
    * words vanish: they can never hit). Same Generate barrier and the
    * SAME [[contamGrams]] expression as [[decontaminateImpl]], so the
    * store's replayed keep-set is the batch operator's bit for bit.
    */
  private[graft] def contamDocGramsFrom(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), explode(array(words)).as("words"))
      .select(col("doc_id"), explode(contamGrams).as("g"))
      .distinct()

  /** [[decontaminate]] with a Bloom pre-filter — the cluster-scale
    * variant. The eval n-gram set is folded into one Bloom filter
    * (Spark's own runtime-filter sketch, exposed as a graft function —
    * [[graft.plans.GraftExtensions]] `graft_bloom_agg` /
    * `graft_might_contain`), ~10× smaller than the distinct digest
    * table the exact variant broadcasts, and the corpus-side probe is a
    * codegen'd expression instead of a hash-join build lookup. False
    * positives are removed by the exact semi-join that follows — but
    * now only over the candidate sliver that passed the filter, so the
    * result is IDENTICAL to [[decontaminate]] (same oracle: the
    * differential proof) while the broadcast shrinks from the digest
    * set to the sketch. No false negatives: Bloom filters never drop a
    * real member.
    */
  def decontaminateBloom(spark: SparkSession, dir: String): DataFrame =
    decontaminateImpl(spark, dir, bloomPrefilter = true)

  private def decontaminateImpl(spark: SparkSession, dir: String,
                                bloomPrefilter: Boolean): DataFrame = {
    graft.plans.GraftExtensions.register(spark)
    // withWordsAttr: the n-gram lambda indexes into `words` (the
    // quadratic-inlining case the barrier exists for)
    val docs = withWordsAttr(spark, dir)
    val isEval = pmod(col("doc_id"), lit(EvalStride.toLong)) === 0
    val evalGrams = docs.where(isEval)
      .select(explode(contamGrams).as("g")).distinct()
    val trainGrams = docs.where(!isEval)
      .select(col("doc_id"), explode(contamGrams).as("g"))
    val probed =
      if (!bloomPrefilter) trainGrams
      else {
        // The sketch must reach might_contain as a constant or scalar
        // subquery (its analyzer contract — same as InjectRuntimeFilter's
        // rewrites). The scalar subquery runs once, is constant-folded
        // into the predicate, and the corpus side never joins anything.
        // Bits sized n·ln(1/fpp)/ln²2 ≈ 10n at 1% fpp; ~32 KB here.
        evalGrams.createOrReplaceTempView("graft_eval_grams")
        trainGrams.createOrReplaceTempView("graft_train_grams")
        spark.sql(
          """SELECT doc_id, g FROM graft_train_grams
            |WHERE graft_might_contain(
            |  (SELECT graft_bloom_agg(xxhash64(g), 32768L, 262144L)
            |   FROM graft_eval_grams),
            |  xxhash64(g))""".stripMargin)
      }
    val hits = probed
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(countDistinct(col("g")).as("n_hit_ngrams"))
    // raw table, not `docs`: this branch never touches `words`, and the
    // barrier Generate would otherwise tokenize rows it doesn't need
    Tables.documents(spark, dir).where(!isEval)
      .select(col("doc_id"), col("lang"))
      .join(hits, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_hit_ngrams"), lit(0L)).as("n_hit_ngrams"),
        (coalesce(col("n_hit_ngrams"), lit(0L)) === 0).as("keep"))
  }

  /** Token-count column under a named tokenizer — the budget unit the
    * packing/mixture operators consume: "ws" (whitespace, the default —
    * registry outputs are byte-identical to before the BPE tokenizer
    * existed) or "bpe" (the [[bpeDocPieces]] merge-table counts).
    */
  private def tokenCount(tokenizer: String): Column = tokenizer match {
    case "ws"  => size(col("words")).cast("long")
    case "bpe" => expr(bpeDocPieces("words"))
    case other => throw new IllegalArgumentException(
      s"unknown tokenizer '$other' (expected ws or bpe)")
  }

  /** Sequence packing: assign each document a (bucket, seq_id,
    * seq_offset) slot in a stream of fixed token-budget training
    * sequences — greedy sequential fill in doc_id order within each
    * bucket. The bucket split is the scale lever: packing needs a total
    * order, and a GLOBAL running sum over 100 TB is a single-partition
    * window (the classic window anti-pattern); hashing docs into
    * [[PackBuckets]] independent streams makes each window a normal
    * partitioned one while keeping every sequence greedily full.
    * Documents longer than the budget simply span sequences
    * (seq_id marks where the doc STARTS; offsets are exact), which is
    * precisely how token-level packing consumes them downstream.
    * All integer math — bit-identical across engines.
    */
  val PackBudget = 256L
  val PackBuckets = 8

  def pack(spark: SparkSession, dir: String,
           budget: Long = PackBudget, buckets: Int = PackBuckets,
           tokenizer: String = "ws"): DataFrame = {
    val toks = withWords(spark, dir).select(
      col("doc_id"),
      pmod(col("doc_id"), lit(buckets.toLong)).as("bucket"),
      tokenCount(tokenizer).as("n_tokens"))
    val w = Window.partitionBy(col("bucket")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks
      .withColumn("start_off", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("bucket"), col("n_tokens"),
        expr(s"CAST(start_off DIV $budget AS BIGINT)").as("seq_id"),
        (col("start_off") % budget).as("seq_offset"))
  }

  /** Deterministic stratified mixture sampling: per-language keep rates
    * (percent) applied via a content-hash bucket, so the sample is
    * reproducible run-to-run, machine-to-machine — the mixture-weighting
    * step of a pretraining-data pipeline (downsample the dominant
    * language, keep the rare ones). Pure projection + filter: no
    * shuffle, nothing collected, scales with the scan.
    */
  val SampleRates: Map[String, Int] = Map("en" -> 40, "zh" -> 100)
  val SampleDefaultRate = 70

  def sampleStratified(spark: SparkSession, dir: String): DataFrame = {
    val bucket =
      expr("CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT) % 100")
    val rate = SampleRates.foldLeft(lit(SampleDefaultRate)) {
      case (acc, (l, r)) => when(col("lang") === l, lit(r)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .withColumn("sample_bucket", bucket)
      .where(col("sample_bucket") < rate)
      .select(col("doc_id"), col("lang"), col("sample_bucket"))
  }

  /** Repetition-based quality signals (the Gopher-style filters):
    * duplicate-word fraction and the token share of the single most
    * frequent word bigram. Highly repetitive machine-generated text
    * scores near 1 on both; clean prose stays low. Shape: one
    * (doc, bigram) partial-count aggregate, one per-doc max — the
    * shuffle carries counts, never text. Ratios are int/int divisions
    * evaluated once in double (bit-identical across engines).
    */
  def repetition(spark: SparkSession, dir: String): DataFrame = {
    val bigrams = when(size(col("words")) >= 2,
      expr("transform(sequence(0, size(words) - 2), i -> concat_ws(' ', slice(words, i + 1, 2)))"))
      .otherwise(expr("CAST(array() AS array<string>)"))
    // withWordsAttr: the bigram lambda indexes into `words` — measured
    // 2.9× at sf0.1 vs the inlined-split form
    val base = withWordsAttr(spark, dir).select(
      col("doc_id"),
      size(col("words")).cast("long").as("n_words"),
      (size(col("words")) - size(array_distinct(col("words"))))
        .cast("long").as("n_dup_words"),
      bigrams.as("bigrams"))
    val topBigram = base
      .select(col("doc_id"), explode(col("bigrams")).as("bg"))
      .groupBy(col("doc_id"), col("bg"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(max(col("c")).as("top_bigram_n"))
    base.join(topBigram, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_words"), col("n_dup_words"),
        (col("n_dup_words").cast("double") / col("n_words")).as("dup_word_frac"),
        coalesce(col("top_bigram_n"), lit(0L)).as("top_bigram_n"),
        when(col("n_words") >= 2,
          coalesce(col("top_bigram_n"), lit(0L)).cast("double") / (col("n_words") - 1))
          .otherwise(lit(0.0)).as("top_bigram_frac"))
  }

  /** Segment length (words) and the corpus frequency at which a segment
    * counts as boilerplate for [[dedupSegments]].
    */
  val SegLen = 10
  val SegDupFreq = 2

  /** Segment-level exact deduplication — the line-dedup pass of a web
    * pretraining pipeline (RefinedWeb-style), adapted to a corpus whose
    * documents carry no newlines: the unit is a non-overlapping
    * [[SegLen]]-word window. Any segment whose md5 occurs ≥
    * [[SegDupFreq]] times corpus-wide is boilerplate; documents are
    * reconstructed without those segments, preserving segment order.
    *
    * Shape at scale: explode → one md5 per segment → partial-count
    * aggregate on the 128-bit key (the shuffle carries hashes, never
    * text) → hash-join back on the same key → one per-doc aggregate
    * whose rows are (doc, ≤ n/SegLen segments). Reconstruction sorts
    * each doc's OWN segments inside the aggregate buffer
    * (sort_array over a collect_list) — bounded by document length,
    * never a global sort.
    */
  def dedupSegments(spark: SparkSession, dir: String): DataFrame = {
    // withWordsAttr: the segment lambda slices into `words` (the
    // quadratic-inlining case the Generate barrier exists for)
    val segs = expr(
      s"""transform(sequence(0, CAST((size(words) - 1) DIV $SegLen AS INT)),
         |  i -> concat_ws(' ', slice(words, i * $SegLen + 1, $SegLen)))""".stripMargin)
    val base = withWordsAttr(spark, dir)
      .select(col("doc_id"), posexplode(segs).as(Seq("seg_idx", "seg")))
      .withColumn("seg_hash", md5(col("seg")))
    val freq = base.groupBy(col("seg_hash")).agg(count(lit(1)).as("seg_freq"))
    base.join(freq, Seq("seg_hash"))
      .withColumn("kept", col("seg_freq") < SegDupFreq)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("kept"), 1L).otherwise(0L)).as("n_segs_kept"),
        concat_ws(" ", expr(
          """transform(
            |  sort_array(collect_list(CASE WHEN kept
            |    THEN struct(seg_idx, seg) END)),
            |  s -> s.seg)""".stripMargin)).as("text_kept"))
  }

  /** Window length (tokens) and corpus frequency at which an
    * OVERLAPPING window counts as duplicated for [[dupSpans]].
    */
  val DupSpanLen = 5
  val DupSpanFreq = 2

  /** Maximal duplicated-span detection — the windowed form of exact
    * substring deduplication (Lee et al. 2022, "Deduplicating Training
    * Data Makes Language Models Better", which removes repeated spans
    * ≥ 50 tokens via suffix arrays): every OVERLAPPING
    * [[DupSpanLen]]-token window (stride 1) is hashed; windows whose
    * hash occurs ≥ [[DupSpanFreq]] times corpus-wide mark their token
    * range as duplicated; per document, overlapping/adjacent marked
    * windows merge into MAXIMAL spans (gaps-and-islands over window
    * starts). Any duplicated substring of ≥ DupSpanLen tokens is
    * covered by at least one duplicated window, so the emitted spans
    * are exactly the token ranges a span-level dedup pass would cut —
    * where [[dedupSegments]]'s fixed non-overlapping segments can
    * straddle (and so miss) a duplicated region, the stride-1 windows
    * localize its precise boundaries.
    *
    * Shape at scale: explode (stride-1 costs DupSpanLen× the rows of
    * the segment pass, but the shuffle carries (doc_id, start, hash) —
    * never text) → partial-count aggregate on the hash → join back on
    * the same key → ONE per-doc window (lag + running sum = the island
    * ids) → per-(doc, island) aggregate. Suffix arrays find spans ≥ L
    * in one pass but don't distribute; windowed marking is the
    * shuffle-native equivalent, with window length the recall dial.
    */
  /** Winnowing k-gram length (characters) and window width. */
  val WinnowK = 8
  val WinnowW = 4

  /** Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    * 2003, the MOSS algorithm): hash every [[WinnowK]]-char gram, then
    * keep each [[WinnowW]]-window's MINIMUM hash — the guarantee-dense
    * fingerprint selection plagiarism/dup detectors use (any shared
    * substring of length ≥ w+k−1 shares a selected fingerprint).
    *
    * The selection runs as TWO plain windows instead of a per-window
    * loop: with m(e) = min hash over the window ENDING at position e,
    * a position p is selected iff some window containing p has p as
    * its minimum ⟺ max{m(e) : e ∈ [p, p+w−1]} = h(p) (every such
    * window contains p, so m(e) ≤ h(p) throughout and equality holds
    * exactly when p is the min — a backward ROWS min then a forward
    * ROWS max, both on the same doc-keyed sort, no self-join).
    * Truncated boundary windows participate (documented deviation:
    * classic winnowing starts at the first full window; the truncated
    * form keeps the guarantee and is identical on both engines).
    * Hashes are 60-bit md5 prefixes — ties impossible in practice, and
    * the tie case only over-selects (both engines identically).
    *
    * Emitted per doc: gram count, selected count, the selection
    * density (one IEEE division; expectation 2/(w+1)), and an
    * order-insensitive fingerprint-set digest (md5 over the sorted
    * distinct selected hashes — the [[fingerprint]] device), which is
    * what a dedup pass would index.
    */
  def winnowing(spark: SparkSession, dir: String): DataFrame = {
    val (k, w) = (WinnowK, WinnowW)
    val grams = fanOut(Tables.documents(spark, dir))
      .where(length(col("text")) >= k)
      .select(col("doc_id"), posexplode(charGrams(k)).as(Seq("pos", "gram")))
      .select(col("doc_id"), col("pos"), rotLong("md5(gram)", 0).as("h"))
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos").asc)
    val back = byPos.rowsBetween(-(w - 1), 0)
    val fwd = byPos.rowsBetween(0, w - 1)
    grams
      .withColumn("m", min(col("h")).over(back))
      .withColumn("sel", max(col("m")).over(fwd) === col("h"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum(when(col("sel"), 1L).otherwise(0L)).as("n_selected"),
        expr("""md5(concat_ws(',', transform(
                |  sort_array(collect_set(CASE WHEN sel THEN h END)),
                |  x -> CAST(x AS STRING))))""".stripMargin).as("fp_digest"))
      .withColumn("density",
        col("n_selected").cast("double") / col("n_grams").cast("double"))
      .select(col("doc_id"), col("n_grams"), col("n_selected"),
        col("density"), col("fp_digest"))
  }

  def dupSpans(spark: SparkSession, dir: String): DataFrame = {
    val wins = expr(
      s"""CASE WHEN size(words) >= $DupSpanLen THEN
         |  transform(sequence(0, size(words) - $DupSpanLen),
         |    i -> concat_ws(' ', slice(words, i + 1, $DupSpanLen)))
         |ELSE CAST(array() AS array<string>) END""".stripMargin)
    // withWordsAttr: the window lambda slices into `words` (the
    // Generate-barrier rationale of the segment/shingle family)
    val base = withWordsAttr(spark, dir)
      .select(col("doc_id"), posexplode(wins).as(Seq("start", "win")))
      .select(col("doc_id"), col("start").cast("long").as("start"),
        md5(col("win")).as("h"))
    val dupHashes = base.groupBy(col("h")).agg(count(lit(1)).as("wfreq"))
      .where(col("wfreq") >= DupSpanFreq)
    val marked = base.join(dupHashes, Seq("h"))
      .select(col("doc_id"), col("start"))
    val byStart = Window.partitionBy(col("doc_id")).orderBy(col("start"))
    marked
      .withColumn("prev", lag(col("start"), 1).over(byStart))
      // island break: this window starts past the previous one's end
      .withColumn("grp", sum(
        when(col("prev").isNull || col("start") - col("prev") > DupSpanLen, 1L)
          .otherwise(0L)).over(byStart))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("start")).as("span_start"),
        (max(col("start")) + DupSpanLen).as("span_end"),
        count(lit(1)).as("n_dup_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_dup_windows"))
  }

  /** Per-source corpus scorecard — the curation dashboard row: doc /
    * token / char volumes, language spread, vocabulary and stopword
    * shares, and the corpus-wide exact-duplicate share, one row per
    * source. Every ratio is a TERMINAL IEEE division of exact integer
    * sums (the anomaly/mixWeights discipline) — a mean over per-doc
    * double ratios would be summation-order dependent and cross-engine
    * dirty. Shape: one token-stats scan groupBy(source) + one
    * digest-frequency aggregate joined back (8-byte digests, never
    * text) — the report a 100 TB curation pipeline emits per ingest
    * source to decide reweighting and dedup pressure.
    */
  def corpusScorecard(spark: SparkSession, dir: String): DataFrame = {
    val stop = "array('the','a','of','and','to','in','is','it','on','for')"
    val base = withWords(spark, dir).select(
      col("doc_id"), col("source"), col("lang"), col("text"), col("words"),
      md5(col("text")).as("digest"))
    val dupDigests = base.groupBy(col("digest"))
      .agg(count(lit(1)).as("dn"))
      .where(col("dn") >= 2 && col("digest").isNotNull)
      .select(col("digest"), lit(1L).as("isdup"))
    base.join(dupDigests, Seq("digest"), "left")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("lang")).as("n_langs"),
        sum(size(col("words")).cast("long")).as("n_tokens"),
        sum(length(col("text")).cast("long")).as("n_chars"),
        sum(size(array_distinct(col("words"))).cast("long")).as("n_uniq_tokens"),
        sum(expr(s"size(filter(words, w -> array_contains($stop, w)))")
          .cast("long")).as("n_stopwords"),
        sum(coalesce(col("isdup"), lit(0L))).as("n_dup_docs"))
      .select(col("source"), col("n_docs"), col("n_langs"),
        col("n_tokens"), col("n_chars"),
        (col("n_tokens").cast("double") / col("n_docs").cast("double"))
          .as("avg_doc_tokens"),
        (col("n_uniq_tokens").cast("double") / col("n_tokens").cast("double"))
          .as("uniq_token_share"),
        (col("n_stopwords").cast("double") / col("n_tokens").cast("double"))
          .as("stopword_share"),
        (col("n_dup_docs").cast("double") / col("n_docs").cast("double"))
          .as("dup_doc_share"))
  }

  /** Target language whose unigram distribution defines "target-like"
    * for [[dsir]].
    */
  val DsirTargetLang = "en"

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score each
    * document by how much more likely its tokens are under the TARGET
    * distribution than the SOURCE distribution —
    * `Σ_w tf_w · (log p̂_target(w) − log p̂_source(w))` under unigram
    * bag-of-words models — the importance weight that selection then
    * resamples by. Target here is the [[DsirTargetLang]] sub-corpus,
    * source the rest (select raw text that "looks like" the curated
    * English set — the paper's formulation with hashed n-gram features
    * reduced to unigrams).
    *
    * The log-ratio runs on the INTEGER-LOG2 grid ([[surprisal]]'s
    * device): with add-one counts,
    * `wbits = (⌊log2 S⌋ − ⌊log2(c_s+1)⌋) − (⌊log2 T⌋ − ⌊log2(c_t+1)⌋)`
    * via `length(bin(n))` string lengths — exact integers, so the
    * per-doc sum commutes under any partitioning and hashes green on
    * both engines; a float `ln` ratio would be cross-engine dirty. The
    * grid's ±1-bit-per-term resolution is immaterial for the ranking /
    * thresholding this score feeds.
    *
    * Shape at 100 TB: one token explode → one (doc, word) partial-
    * counted aggregate (the shuffle carries counts); vocabulary stats
    * are a groupBy OFF that aggregate (no second scan); totals a 1-row
    * broadcast; scores join back word-keyed. Null-text docs surface
    * with 0 words / 0 bits through the doc-table left join.
    */
  def dsir(spark: SparkSession, dir: String): DataFrame = {
    val tf = dsirTfFrom(Tables.documents(spark, dir))
    dsirFrom(tf, Tables.documents(spark, dir).select(col("doc_id"), col("lang")))
  }

  /** The (doc_id, lang, word, tf) term-frequency table a DSIR store
    * maintains — shared with [[graft.streaming.StreamingDsir]], which
    * builds it per micro-batch slice.
    */
  private[graft] def dsirTfFrom(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
        explode(array(words)).as("words"))
      .select(col("doc_id"), col("lang"), explode(col("words")).as("word"))
      .groupBy(col("doc_id"), col("lang"), col("word"))
      .agg(count(lit(1)).as("tf"))

  /** [[dsir]] over materialized relations — `tf` the (doc_id, lang,
    * word, tf) table, `docLangs` one row per corpus document. Every
    * sum is an exact integer, so scoring the MERGED incremental store
    * is bit-equal to scoring the batch-derived table under any batch
    * split — the property the streaming spec proves.
    */
  private[graft] def dsirFrom(tf: DataFrame, docLangs: DataFrame): DataFrame = {
    val wordStats = tf.groupBy(col("word")).agg(
      sum(when(col("lang") === DsirTargetLang, col("tf")).otherwise(0L)).as("ct"),
      sum(when(col("lang") =!= DsirTargetLang, col("tf")).otherwise(0L)).as("cs"))
    val totals = wordStats.agg(sum(col("ct")).as("tt"), sum(col("cs")).as("ss"))
    val scored = wordStats.crossJoin(broadcast(totals))
      .select(col("word"),
        ((length(bin(col("ss"))) - length(bin(col("cs") + 1))) -
          (length(bin(col("tt"))) - length(bin(col("ct") + 1))))
          .cast("long").as("wbits"))
    val perDoc = tf.join(scored, Seq("word"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("wbits")).as("dsir_bits"),
        sum(col("tf")).as("n_words"))
    docLangs
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang"),
        coalesce(col("n_words"), lit(0L)).as("n_words"),
        coalesce(col("dsir_bits"), lit(0L)).as("dsir_bits"),
        when(coalesce(col("n_words"), lit(0L)) > 0,
          col("dsir_bits").cast("double") / col("n_words").cast("double"))
          .otherwise(lit(0.0)).as("mean_bits"))
  }

  /** Class inventory for [[nbClassifier]] — the corpus's language
    * labels, fixed in alphabetical order (the order IS the
    * deterministic argmax tiebreak).
    */
  val NbClasses: Seq[String] = Seq("de", "en", "es", "fr", "zh")

  /** Train/score split modulus for [[nbClassifier]]: doc_id % 5 ≠ 0
    * trains (80%), everything scores — held-out docs exercise
    * generalization, OOV handling included.
    */
  val NbTrainMod = 5L

  /** Third-bit integer-log2: `b3(x) = ⌊3·log2 m⌋ + 3s` with
    * `s = max(⌊log2 x⌋ − 20, 0)` and mantissa `m = x >> s` — i.e.
    * ⌊3·log2 x⌋ computed exactly for x < 2²¹ via `length(bin(m³)) − 1`
    * (the cube fits int64 because m < 2²¹), and with the mantissa
    * truncated to its top 21 bits beyond that (error ≤ 1 grid step,
    * but the FUNCTION is the same exact integer map on both engines —
    * the determinism contract cares about cross-engine equality, not
    * the last ulp of the log). Three times the resolution of
    * [[surprisal]]'s whole-bit grid — the difference between a
    * working and a prior-collapsed [[nbClassifier]]: whole-bit
    * quantization loses the ~½-bit per-token likelihood margins that
    * separate these classes.
    */
  private def b3Spark(x: String): String = {
    val s = s"greatest(length(bin($x)) - 21, 0)"
    val m = s"shiftright($x, $s)"
    s"CAST(3 * $s + length(bin($m * $m * $m)) - 1 AS BIGINT)"
  }

  /** DuckDB spelling of [[b3Spark]] (shared with OracleText). */
  private[graft] def b3Duck(x: String): String = {
    val s = s"greatest(length(bin($x)) - 21, 0)"
    val m = s"(($x) >> ($s))"
    s"CAST(3 * $s + length(bin($m * $m * $m)) - 1 AS BIGINT)"
  }

  /** Multinomial Naive Bayes classifier, trained ON THE CORPUS and
    * applied back to every document — the quality/language-classifier
    * pattern of a pretraining pipeline (CCNet/fastText-style linear
    * scorer), supervised here by the `lang` column with an 80/20
    * doc_id-hash split. Per class c:
    * `score_c(doc) = Σ_w tf_w·b3(c_c(w)+1) − n_tokens·b3(N_c+V)
    *  + b3(D_c+1) − b3(D+|C|)`
    * — add-one-smoothed multinomial NB with every logarithm on the
    * third-bit integer-log2 grid ([[b3Spark]]), so scores are exact
    * integers: order-free sums, bit-equal across engines, and the
    * argmax (alphabetical tiebreak via a greatest + first-match chain)
    * can never wobble. OOV tokens contribute b3(1) = 0 to every
    * class — exactly add-one smoothing's unseen-word term on the grid.
    *
    * Shape at 100 TB: one token explode → (doc, word) partial-counted
    * aggregate (the [[dsir]] table, counts not text); per-word class
    * counts are a groupBy OFF that aggregate; scoring joins the
    * vocabulary-sized stats back on the word key (broadcast when the
    * vocab is bounded, shuffle join otherwise — the [[dsir]] choice);
    * class totals and priors are 1-row broadcasts. Nothing
    * corpus-sized crosses the driver.
    */
  def nbClassifier(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val tf = dsirTfFrom(docs)
    val isTrain = col("doc_id") % NbTrainMod =!= 0L
    val train = tf.where(isTrain)
    val wsAggs = NbClasses.map(c =>
      sum(when(col("lang") === c, col("tf")).otherwise(0L)).as(s"c_$c"))
    val wordStats = train.groupBy(col("word")).agg(wsAggs.head, wsAggs.tail: _*)
    val totAggs = count(lit(1)).as("v") +:
      NbClasses.map(c => sum(col(s"c_$c")).as(s"n_$c"))
    val totals = wordStats.agg(totAggs.head, totAggs.tail: _*)
    val priAggs = count(lit(1)).as("d") +: NbClasses.map(c =>
      sum(when(col("lang") === c, 1L).otherwise(0L)).as(s"d_$c"))
    val priors = docs.where(isTrain).agg(priAggs.head, priAggs.tail: _*)
    val pdAggs = NbClasses.map(c =>
      sum(col("tf") * expr(b3Spark(s"c_$c + 1"))).as(s"b_$c"))
    val perDoc = tf.join(wordStats, Seq("word"))
      .groupBy(col("doc_id")).agg(pdAggs.head, pdAggs.tail: _*)
    val tok = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("n_tokens"))
    val scoreCols = NbClasses.map { c =>
      (coalesce(col(s"b_$c"), lit(0L)) -
        coalesce(col("n_tokens"), lit(0L)) *
          expr(b3Spark(s"COALESCE(n_$c, 0) + v")) +
        expr(b3Spark(s"COALESCE(d_$c, 0) + 1")) -
        expr(b3Spark(s"d + ${NbClasses.size}"))).as(s"s_$c")
    }
    val scored = docs.select(col("doc_id"), col("lang"))
      .join(perDoc, Seq("doc_id"), "left")
      .join(tok, Seq("doc_id"), "left")
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(priors))
      .select(col("doc_id") +: col("lang") +: isTrain.as("is_train") +:
        scoreCols: _*)
    val best = greatest(NbClasses.map(c => col(s"s_$c")): _*)
    val pred = NbClasses.foldRight(lit(null).cast("string")) { (c, acc) =>
      when(col(s"s_$c") === best, lit(c)).otherwise(acc)
    }
    scored.select(col("doc_id") +: col("lang") +: col("is_train") +:
      pred.as("pred_lang") +: NbClasses.map(c => col(s"s_$c")): _*)
  }

  /** Tokenizer vocabulary-coverage report per source — the artifact a
    * tokenizer owner reads after [[bpeTrain]]: word and piece totals,
    * fertility (pieces per word), compression (chars per piece), and
    * the share of word occurrences the merge table fuses to a SINGLE
    * piece (full-word coverage). Uses the rank-ordered [[BpeMerges]]
    * inventory through the same faithful encoder as [[tokensBpe]].
    *
    * Shape at 100 TB: the [[tokensBpe]] type-vs-token device — the
    * encoder runs once per DISTINCT word, the tiny dictionary
    * broadcasts back onto the exploded occurrence stream, and the
    * shuffle carries one partial-aggregated row per source.
    */
  def vocabCoverage(spark: SparkSession, dir: String): DataFrame = {
    val wm = withWords(spark, dir)
      .select(col("source"), explode(col("words")).as("w"))
    val dict = wm.select(col("w")).distinct()
      .withColumn("np", expr(bpeWordPieces("w")))
      .withColumn("wlen", length(col("w")).cast("long"))
    wm.join(broadcast(dict), Seq("w"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_words"),
        sum(col("np")).as("n_pieces"),
        sum(col("wlen")).as("n_chars"),
        sum(when(col("np") === 1L, 1L).otherwise(0L)).as("n_single_piece"))
      .select(col("source"), col("n_words"), col("n_pieces"), col("n_chars"),
        (col("n_pieces").cast("double") / col("n_words").cast("double"))
          .as("pieces_per_word"),
        (col("n_chars").cast("double") / col("n_pieces").cast("double"))
          .as("chars_per_piece"),
        (col("n_single_piece").cast("double") / col("n_words").cast("double"))
          .as("single_piece_share"))
  }

  /** Number of shards for [[shard]] — at real scale this is the output
    * file-parallelism dial (shards ≈ cluster write slots), here small so
    * the fixture exercises multi-doc shards.
    */
  val NumShards = 16

  /** Deterministic training-shard assignment: content-hash bucket per
    * document plus per-shard balance stats — the "write the corpus as N
    * reproducible shards" step that precedes tokenizer/loader work.
    * Assignment is a pure projection (scan-bound, no shuffle); the
    * balance stats add one window over the shard key — at 100 TB you'd
    * compute those as a separate 16-row aggregate instead, but the
    * window form keeps assignment and audit in one pass at fixture
    * scale and shuffles only (doc_id, shard, n_tokens) triples.
    */
  def shard(spark: SparkSession, dir: String): DataFrame = {
    val assigned = withWords(spark, dir).select(
      col("doc_id"),
      expr(s"""CAST(conv(substring(md5(text), 1, 15), 16, 10) AS BIGINT)
              | % $NumShards""".stripMargin).as("shard"),
      size(col("words")).cast("long").as("n_tokens"))
    val w = Window.partitionBy(col("shard"))
    assigned.select(
      col("doc_id"), col("shard"), col("n_tokens"),
      count(lit(1)).over(w).as("shard_docs"),
      sum(col("n_tokens")).over(w).as("shard_tokens"))
  }

  /** Top-k corpus n-grams for [[ngramStats]] — the curation diagnostic
    * that surfaces boilerplate candidates before dedup thresholds are
    * chosen.
    */
  val NgramTopK = 20

  /** Corpus-level top-[[NgramTopK]] word trigrams with document reach:
    * explode shingles → partial-count HashAggregate (map-side combine,
    * so the shuffle carries (shingle, count, doc-partials), never text)
    * → global top-k via TakeOrderedAndProject (each partition keeps k
    * rows; no global sort materializes). Deterministic tiebreak on the
    * shingle itself.
    */
  def ngramStats(spark: SparkSession, dir: String): DataFrame =
    withShingles(spark, dir)
      .select(col("doc_id"), explode(col("shingles")).as("ngram"))
      .groupBy(col("ngram"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"))
      .orderBy(col("n_occurrences").desc, col("ngram"))
      .limit(NgramTopK)

  /** ES `rare_terms` aggregation: the LONG-TAIL complement of a `terms`
    * agg — every term whose document frequency is ≤ [[RareMaxDocCount]],
    * ordered ascending by df (then term, a total order). The term space
    * here is 4-word shingles — wide enough that even this saturated
    * ~31-word fixture vocabulary has a genuine rare tail at every SF
    * (the same width-is-the-discrimination-lever argument as
    * [[ContainBlockWidth]]'s Scaladoc; 1/2/3-grams of this corpus have
    * NO term under any reasonable absolute cutoff).
    *
    * Shape at 100 TB: per-doc `array_distinct` BEFORE the explode (df
    * needs one occurrence per doc — dedup in the array world costs no
    * exchange) → ONE term-keyed partial-aggregated df count → filter ≤
    * cutoff → TakeOrderedAndProject bottom-[[RareTermsK]]. ES
    * implements this agg with a per-shard CuckooFilter precisely
    * because the rare set is unbounded; the bottom-k cap plays that
    * role here — the full rare set never sorts globally and never
    * reaches the driver.
    */
  val RareMaxDocCount = 2L
  val RareTermsK = 100

  def rareTerms(spark: SparkSession, dir: String): DataFrame = {
    val grams4 = when(size(col("words")) >= 4,
      expr("transform(sequence(0, size(words) - 4), i -> concat_ws(' ', slice(words, i + 1, 4)))"))
      .otherwise(expr("CAST(array() AS array<string>)"))
    withWordsAttr(spark, dir)
      .withColumn("grams", grams4)
      .select(explode(array_distinct(col("grams"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("doc_count"))
      .where(col("doc_count") <= RareMaxDocCount)
      .orderBy(col("doc_count").asc, col("term").asc)
      .limit(RareTermsK)
  }

  /** Deny-list for [[scrub]] — stand-in for the PII / boilerplate
    * pattern set of a production scrubber (the fixture corpus has no
    * digits or addresses, so the list names tokens that actually occur).
    */
  val ScrubDenyList: Seq[String] = Seq("customer", "vector")

  /** Deny-list token scrubbing — the redaction pass of a pretraining
    * pipeline (PII patterns, banned strings) reduced to exact token
    * membership: drop denied tokens, keep order, count removals. Pure
    * projection over the scan — no shuffle, no UDF, codegen end-to-end;
    * a regex pattern set drops into the same `filter` lambda.
    */
  def scrub(spark: SparkSession, dir: String): DataFrame = {
    val deny = ScrubDenyList.map(w => s"'$w'").mkString("array(", ",", ")")
    withWords(spark, dir).select(
      col("doc_id"),
      concat_ws(" ", expr(s"filter(words, w -> NOT array_contains($deny, w))"))
        .as("text_scrubbed"),
      expr(s"size(filter(words, w -> array_contains($deny, w)))")
        .cast("long").as("n_removed"))
  }

  /** Regex families for [[redact]] — the structured-PII counterpart of
    * [[scrub]]'s exact-token deny-list. Patterns stay inside the
    * Java-regex ∩ RE2 common subset (character classes, `{m,n}`
    * bounded repeats, `\b` ASCII word boundaries — no backreferences,
    * no lookaround), so the IDENTICAL pattern string drives Spark's
    * `regexp_replace` and the DuckDB mirror and both engines match the
    * same spans.
    */
  val RedactEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val RedactPhone = "\\b\\d{3}-\\d{3}-\\d{4}\\b"
  val RedactIpv4 = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
  val RedactKey = "\\bAKIA[0-9A-Z]{16}\\b"

  /** Deterministic planted PII span per document — the fixture
    * stand-in for corpus text that actually contains addresses and
    * keys (the synthetic corpus has none — same device as
    * [[decontaminate]]'s [[EvalStride]] eval-set stand-in). Family
    * rotates on doc_id so every pattern exercises nonzero matches:
    * email / phone / IPv4 / AKIA-shaped key. Everything derives from
    * doc_id with engine-identical string functions.
    */
  private def redactPlant: Column = {
    val fam = pmod(col("doc_id"), lit(4L))
    val email = concat(lit("user"), col("doc_id").cast("string"),
      lit("@example.com"))
    val phone = concat(lit("555-123-"),
      lpad(pmod(col("doc_id"), lit(10000L)).cast("string"), 4, "0"))
    val ip = concat(lit("10.0."),
      pmod(col("doc_id"), lit(256L)).cast("string"), lit(".7"))
    val key = concat(lit("AKIA"),
      upper(substring(md5(col("doc_id").cast("string")), 1, 16)))
    when(fam === 0, email).when(fam === 1, phone)
      .when(fam === 2, ip).otherwise(key)
  }

  /** Structured PII redaction — the pattern-family scrubbing pass a
    * production pipeline runs before any corpus ships ([[scrub]]
    * handles exact deny-tokens; this handles the SHAPES: emails,
    * phone numbers, IPv4 addresses, cloud-key-looking strings).
    * Each family is one `regexp_replace` in a fixed chain
    * (email → key → phone → IP; replacement tokens contain no digits
    * or '@', so no replacement can create a later family's match) and
    * per-family match counts come off the PRE-redaction text. Pure
    * projection over the scan — zero shuffle, zero UDF, codegen
    * end-to-end (PlanAuditSpec asserts the zero-exchange plan); at
    * 100 TB this runs at scan speed alongside any other per-doc gate.
    * Null text stays null with zero counts (the docLenIndex
    * convention).
    */
  def redact(spark: SparkSession, dir: String): DataFrame = {
    // Generate barrier: the planted text feeds 4 count exprs + the
    // replace chain; CollapseProject would otherwise re-evaluate the
    // concat+md5 plant once per consumer
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"),
        explode(array(concat(col("text"), lit(" "), redactPlant))).as("ptext"))
    def cnt(pat: String): Column =
      coalesce(size(regexp_extract_all(col("ptext"), lit(pat), lit(0))), lit(0))
        .cast("long")
    base.select(
      col("doc_id"),
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(col("ptext"), RedactEmail, "<EMAIL>"),
            RedactKey, "<KEY>"),
          RedactPhone, "<PHONE>"),
        RedactIpv4, "<IP>").as("text_redacted"),
      cnt(RedactEmail).as("n_email"),
      cnt(RedactKey).as("n_key"),
      cnt(RedactPhone).as("n_phone"),
      cnt(RedactIpv4).as("n_ip"),
      (cnt(RedactEmail) + cnt(RedactKey) + cnt(RedactPhone) + cnt(RedactIpv4))
        .as("n_redacted"))
  }

  /** Temperature exponent for [[mixWeights]] as (numerator,
    * denominator) of a dyadic rational: share^(1/2) = sqrt(share) is
    * IEEE-exact in both engines, so α = 0.5 keeps the oracle bit-equal
    * (a free α would route through pow, whose last-bit rounding differs
    * across libm builds).
    */
  val MixAlphaIsSqrt = true

  /** Domain mixture weights — the sampling-weight table of a
    * pretraining data mix: per-source token mass, its corpus share, and
    * a temperature-flattened weight w(s) ∝ share(s)^0.5, normalized.
    *
    * Cross-engine float discipline: share is a division of two exact
    * BIGINTs; sqrt is IEEE-correctly-rounded in both engines; the
    * normalizing sum is NOT a float sum (engine-defined order) — each
    * sqrt is first floored onto a 2^40 integer grid, the grid values
    * sum exactly in any order, and the final weight is an int/int
    * division. One partial aggregate over the scan + a 20-row window:
    * nothing here grows with corpus size except the first aggregate.
    */
  def mixWeights(spark: SparkSession, dir: String,
      tokenizer: String = "ws"): DataFrame = {
    val perSource = withWords(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(tokenCount(tokenizer)).as("n_tokens"))
    val total = Window.partitionBy()
    val grid = math.pow(2, 40).toLong
    perSource
      .withColumn("share",
        col("n_tokens").cast("double") / sum(col("n_tokens")).over(total))
      .withColumn("w_grid",
        floor(sqrt(col("share")) * grid).cast("long"))
      .select(
        col("source"), col("n_docs"), col("n_tokens"), col("share"),
        (col("w_grid").cast("double") / sum(col("w_grid")).over(total))
          .as("mix_weight"))
  }

  /** Per-document novelty: the fraction of a doc's DISTINCT 3-word
    * shingles that occur in no other document — the triage signal
    * between exact dedup (hash equality) and near-dup (signature
    * similarity): boilerplate-heavy docs score near 0, fresh content
    * near 1, and the corpus-frequency join is the same "count each
    * gram once corpus-wide" shape [[sourceOverlap]] runs, so a
    * pipeline computes both from one shingle pass.
    *
    * Shape at 100 TB: explode → per-(doc, gram) distinct → one shuffle
    * keyed on the 60-bit gram hash for the frequency count → join back
    * on the same key (same partitioning, reusable exchange) → per-doc
    * ratio. Only 8-byte hashes and doc ids shuffle. Docs with < 3
    * words have no shingles and are absent from the output (both
    * engines agree).
    */
  def novelty(spark: SparkSession, dir: String): DataFrame = {
    val grams = withShingles(spark, dir)
      .select(col("doc_id"), explode(col("shingles")).as("sg"))
      .select(col("doc_id"), md5(col("sg")).as("h"))
      .select(col("doc_id"), rotLong("h", 0).as("gh"))
      .distinct()
    val freq = grams.groupBy(col("gh"))
      .agg(count(lit(1)).as("gram_docs"))
    grams.join(freq, Seq("gh"))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_shingles"),
        sum(when(col("gram_docs") === 1, 1L).otherwise(0L)).as("n_unique"))
      // int/int in double: exact, engine-identical
      .withColumn("novelty",
        col("n_unique").cast("double") / col("n_shingles").cast("double"))
  }

  /** Cross-source n-gram overlap matrix — the corpus-level
    * contamination readout that tells a pipeline which source PAIRS
    * share content (scraped mirrors, benchmark leakage, vendored
    * copies) before any per-document dedup runs. For every source
    * pair: the count of shared distinct 3-word shingles and the
    * Jaccard of the two shingle sets. [[decontaminate]] answers "is
    * THIS doc contaminated against THAT set"; this answers "which of
    * my S sources even overlap, and how much" — the matrix that
    * decides what to decontaminate against.
    *
    * Shape at 100 TB: distinct (source, gram-hash) with map-side
    * partial distinct, one shuffle keyed on the 60-bit gram hash for
    * the self-join (pairs per gram ≤ S², never corpus-quadratic), and
    * an S²-row output. The text never shuffles — only 8-byte hashes
    * (same device as [[minhashSignatures]]).
    *
    * Fan-out bound: a gram shared by all S sources expands to S(S−1)/2
    * join rows, so the per-gram cost is quadratic in the SOURCE count,
    * not the corpus — fine at the tens of sources a mixture table
    * names (S=20 → ≤190 rows/gram). If S ever grows past that, cap the
    * hot grams the way [[dedupContainment]] df-caps its blocking index:
    * count sources per gram first and drop grams above a df ceiling —
    * a gram present in (nearly) every source carries no pair-specific
    * signal, so the cap changes cost, not the readout's meaning.
    */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val grams = withShingles(spark, dir)
      .select(col("source"), explode(col("shingles")).as("sg"))
      .select(col("source"), md5(col("sg")).as("h"))
      .select(col("source"), rotLong("h", 0).as("gh"))
      .distinct()
    val sizes = grams.groupBy(col("source")).agg(count(lit(1)).as("n"))
    grams.select(col("source").as("src_a"), col("gh"))
      .join(grams.select(col("source").as("src_b"), col("gh")), Seq("gh"))
      .where(col("src_a") < col("src_b"))
      .groupBy(col("src_a"), col("src_b"))
      .agg(count(lit(1)).as("overlap"))
      .join(sizes.select(col("source").as("src_a"), col("n").as("n_a")),
        Seq("src_a"))
      .join(sizes.select(col("source").as("src_b"), col("n").as("n_b")),
        Seq("src_b"))
      .select(col("src_a"), col("src_b"), col("overlap"), col("n_a"), col("n_b"),
        // int/int in double: exact, engine-identical
        (col("overlap").cast("double") /
          (col("n_a") + col("n_b") - col("overlap")).cast("double"))
          .as("jaccard"))
  }

  /** BM25 ranked full-text retrieval — the relevance-scored `match`
    * query at the heart of the reference's substrate (Elasticsearch
    * ranks every full-text query with BM25; the reference's filters,
    * e.g. elastic-asset-etl-poc queries/services.ts, run in filter
    * context where scoring is skipped, so this is the scoring half of
    * that query surface). For a fixed query table, ranks the top
    * [[Bm25TopK]] documents per query by the BM25 sum over query
    * terms:
    *
    *   score(q, d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    *
    * with k1 = 1.2, b = 0.75 (the Lucene defaults). One deliberate
    * deviation, the [[tfidf]] log-free device applied to Robertson
    * idf: Lucene's `ln(1 + (N−df+0.5)/(df+0.5))` becomes the rational
    * `(N−df+0.5)/(df+0.5) + 1` (the argument of that ln). `ln` is not
    * guaranteed bit-identical across engines (libm vs DuckDB), and the
    * rational form keeps every arithmetic step IEEE-correctly-rounded
    * in a fixed expression tree, so the oracle is hash-exact.
    * Single-term rankings are identical (monotone transform); in
    * multi-term sums the rational idf weights rare terms more steeply
    * than the log form — documented scoring semantics of THIS engine,
    * not a bug. Per-term contributions land on a 2^40 integer grid
    * before the per-(query, doc) sum, so the sum commutes exactly
    * (the [[mixWeights]] grid device) and the emitted score is a
    * partition- and engine-deterministic long.
    *
    * Shape at 100 TB: the query table is tiny and broadcasts twice
    * (term semi-join, query attach); exploded corpus tokens drop to
    * query-term matches BEFORE the tf shuffle, so the only
    * corpus-sized exchanges are the (doc, term) tf aggregate and the
    * doc-keyed length join; df over matched terms is ≤ |query vocab|
    * rows and broadcasts back. The final top-k window is rank ≤ k, so
    * the partial WindowGroupLimit cuts each map task to k rows per
    * query before the exchange.
    */
  val Bm25TopK = 10
  private val Bm25Grid = "1099511627776.0" // 2^40, exact double literal

  /** The fixed query workload: (query_id, distinct terms). Literal on
    * both engines — the stand-in for the real query table a serving
    * layer would supply.
    */
  val bm25Queries: Seq[(Long, Seq[String])] = Seq(
    0L -> Seq("spark", "join"),
    1L -> Seq("window", "hash", "scan"),
    2L -> Seq("customer", "order", "merge"),
    3L -> Seq("vector", "stream"),
    4L -> Seq("filter"))

  def bm25(spark: SparkSession, dir: String,
      workload: Seq[(Long, Seq[String])] = bm25Queries): DataFrame = {
    import spark.implicits._
    val queries = workload
      .flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "term")
    bm25Ranked(spark, dir, queries, excludeSelf = false)
  }

  /** Significant-terms aggregation — the reference substrate's
    * `significant_terms` bucket aggregation (Elasticsearch's
    * foreground-vs-background term significance), scored with ES's
    * default JLH heuristic: for each (source, term),
    *
    *   jlh = (fgPct − bgPct) · (fgPct / bgPct)
    *
    * where fgPct = fraction of the source's docs containing the term
    * and bgPct = the corpus-wide fraction. Terms common everywhere
    * score ≈ 0; terms concentrated in one source score high — the
    * "what is THIS slice about" readout (ES surfaces it for anomaly
    * triage; a pretraining pipeline reads it as a per-source
    * vocabulary-skew diagnostic next to [[sourceOverlap]]'s gram
    * matrix). Counts are DOC frequencies (distinct doc per term, like
    * ES), the score is pure integer-ratio arithmetic in one fixed
    * expression tree — no logs, no float sums — so it is bit-equal
    * across engines, and the top [[SigTermsTopK]] per source emit
    * with a deterministic (score desc, term asc) tiebreak.
    *
    * Shape at 100 TB: one exploded distinct (doc, term, source) pass;
    * per-(term, source) and per-term doc counts are two partial
    * aggregates off it; the term-keyed join of background counts back
    * is the only corpus-sized shuffle (deliberately unhinted, the
    * [[tfidf]] vocabulary argument); per-source doc totals are an
    * S-row broadcast. The rank ≤ k window gets the partial
    * WindowGroupLimit cut.
    */
  val SigTermsTopK = 5

  def sigTerms(spark: SparkSession, dir: String): DataFrame = {
    // postings rows ARE the distinct (doc, term) pairs; the doc-keyed
    // source attach replaces the explode+distinct pass (at scale a
    // co-partitionable equi-join against doc metadata)
    val docTerms = postingsIndex(spark, dir)
      .select(col("doc_id"), col("term"))
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("source")),
        Seq("doc_id"))
    sigTermsFrom(docTerms,
      Tables.documents(spark, dir).select(col("doc_id"), col("source")))
  }

  /** [[sigTerms]] over materialized relations — `docTerms` the
    * distinct (doc_id, term, source) triples, `docSources` one row per
    * corpus document (null-text docs included: they count in the
    * fg/bg totals exactly as the batch operator counts them). The seam
    * [[graft.streaming.StreamingRetrieval.sigTermsSearch]] reads
    * through.
    */
  private[graft] def sigTermsFrom(docTerms: DataFrame,
      docSources: DataFrame): DataFrame = {
    val fg = docTerms.groupBy(col("source"), col("term"))
      .agg(count(lit(1)).as("fg"))
    // docTerms rows are distinct (doc, term) pairs (one source per
    // doc), so a plain count IS the distinct-doc frequency
    val bg = docTerms.groupBy(col("term")).agg(count(lit(1)).as("bg"))
    val fgTotals = docSources
      .groupBy(col("source")).agg(count(lit(1)).as("fg_total"))
    val nDocs = docSources.agg(count(lit(1)).as("bg_total"))
    val scored = fg
      .join(bg, Seq("term"))
      .join(broadcast(fgTotals), Seq("source"))
      .crossJoin(broadcast(nDocs))
      .withColumn("fg_pct", col("fg").cast("double") / col("fg_total").cast("double"))
      .withColumn("bg_pct", col("bg").cast("double") / col("bg_total").cast("double"))
      .withColumn("jlh",
        (col("fg_pct") - col("bg_pct")) * (col("fg_pct") / col("bg_pct")))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("jlh").desc, col("term").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= SigTermsTopK)
      .select(col("source"), col("rank"), col("term"),
        col("fg"), col("bg"), col("jlh"))
  }

  /** Statistical-LM quality scoring: mean bigram surprisal of each
    * document under the corpus's own bigram model — the
    * perplexity-proxy member of the quality family ([[quality]] counts
    * surface features; this one asks "how predictable is this text
    * given the corpus", the signal KenLM-style filters threshold on).
    * High mean surprisal = improbable word sequences (noise, shuffled
    * text, OCR damage); low = boilerplate-predictable.
    *
    * Surprisal is quantized to the INTEGER-LOG2 grid:
    * `bits(bigram) = ⌊log2 c(w1·)⌋ − ⌊log2 c(w1 w2)⌋`
    * where c(w1·) is the context total (Σ over following words — so
    * bits ≥ 0 and the model normalizes by construction). ⌊log2 n⌋ is
    * `length(bin(n)) − 1` — pure integer string length, bit-equal in
    * any engine — so the per-doc total is an exact integer sum and the
    * mean is the house one-IEEE-division. The grid costs factor-of-2
    * probability resolution (±1 bit per bigram), which ranking use
    * cases don't feel; a float `ln` would be cross-engine hash-dirty.
    *
    * Shape at 100 TB: one bigram explode (doc, w1, w2) → one
    * (w1, w2)-keyed partial-aggregated count shuffle; context totals
    * are a groupBy OFF that aggregate (no second scan); scores join
    * back on the same bigram key. Docs under 2 words have no bigrams
    * and drop out (documented; the quality gate handles them by
    * length).
    */
  /** Minimum pair count for [[collocations]] (noise floor — textbook
    * PMI is unstable on hapax pairs).
    */
  val CollocMinCount = 5L

  /** Result budget for [[collocations]]. */
  val CollocTopK = 50

  /** Collocation mining: the corpus's most associated adjacent word
    * pairs by POINTWISE MUTUAL INFORMATION, computed as the exact
    * lift ratio `P(w1,w2) / (P(w1·)·P(·w2)) = c₁₂·N / (c₁·c₂)` over
    * the bigram contingency margins (c₁ = pair occurrences with that
    * first word, c₂ = with that second word, N = total bigrams). The
    * ratio is ONE IEEE division of exact integer products (both
    * < 2⁵³ at any fixture scale — at true corpus scale the products
    * approach the mantissa and the score would move to the integer-
    * log2 grid [[surprisal]] uses; the ranking is what matters and
    * log is monotone). PMI itself is log(ratio) — monotone, so
    * ranking by the ratio IS ranking by PMI without a cross-engine
    * transcendental.
    *
    * Shape at 100 TB: one bigram-keyed partial-aggregated count
    * shuffle; both margins are groupBys OFF that aggregate (vocab²-
    * bounded, not corpus-bounded); N is a 1-row broadcast; top-k is a
    * TakeOrderedAndProject with full (ratio, w1, w2) tiebreak.
    */
  def collocations(spark: SparkSession, dir: String): DataFrame = {
    val bigrams = withWordsAttr(spark, dir)
      .where(size(col("words")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(words) - 2), i -> struct(words[i] AS w1, words[i + 1] AS w2))"))
        .as("bg"))
      .select(col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bg = bigrams.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val m1 = bg.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val m2 = bg.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
    val n = bg.agg(sum(col("c12")).as("n_bigrams"))
    bg.where(col("c12") >= CollocMinCount)
      .join(m1, Seq("w1")).join(m2, Seq("w2"))
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c12"), col("c1"), col("c2"),
        col("n_bigrams"),
        ((col("c12") * col("n_bigrams")).cast("double") /
          (col("c1") * col("c2")).cast("double")).as("pmi_ratio"))
      .orderBy(col("pmi_ratio").desc, col("w1").asc, col("w2").asc)
      .limit(CollocTopK)
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020): within
    * each language, split documents into head / middle / tail thirds
    * by their LM score — here the corpus-bigram surprisal
    * ([[surprisal]]'s mean bits, the repo's KenLM stand-in). The split
    * is `ntile(3)` over the (mean_bits, doc_id) TOTAL order — a pure
    * rank bucket, so no quantile interpolation ever touches a float
    * boundary and the assignment is bit-portable by construction.
    * Head = most predictable text (lowest bits), the third CCNet
    * keeps first. Documents under 2 words have no bigrams and drop
    * out with [[surprisal]] (documented there; the length gate owns
    * them).
    *
    * Shape at 100 TB: surprisal's own audited shape plus one
    * lang-keyed window over the per-DOC score table (corpus-row
    * sized, ~16 bytes a row) — the window partitions by language, so
    * skew equals corpus language skew; a production run would
    * sub-salt the dominant language only to RANK, which ntile
    * tolerates (ranks then merge by range), kept single-window here.
    */
  def pplBuckets(spark: SparkSession, dir: String): DataFrame = {
    val byLang = Window.partitionBy(col("lang"))
      .orderBy(col("mean_bits").asc, col("doc_id").asc)
    surprisal(spark, dir)
      .join(Tables.documents(spark, dir).select(col("doc_id"), col("lang")),
        Seq("doc_id"))
      .withColumn("tercile", ntile(3).over(byLang).cast("long"))
      .select(col("doc_id"), col("lang"), col("n_bigrams"), col("total_bits"),
        col("mean_bits"), col("tercile"),
        when(col("tercile") === 1L, lit("head"))
          .when(col("tercile") === 2L, lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  def surprisal(spark: SparkSession, dir: String): DataFrame = {
    val bigrams = withWordsAttr(spark, dir)
      .where(size(col("words")) >= 2)
      .select(col("doc_id"), posexplode(expr(
        "transform(sequence(0, size(words) - 2), i -> struct(words[i] AS w1, words[i + 1] AS w2))"))
        .as(Seq("pos", "bg")))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val bgCounts = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c_bg"))
    val ctxCounts = bgCounts.groupBy(col("w1"))
      .agg(sum(col("c_bg")).as("c_ctx"))
    bigrams
      .join(bgCounts, Seq("w1", "w2"))
      .join(ctxCounts, Seq("w1"))
      .select(col("doc_id"),
        (length(bin(col("c_ctx"))) - length(bin(col("c_bg")))).cast("long").as("bits"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("bits")).as("total_bits"))
      .withColumn("mean_bits",
        col("total_bits").cast("double") / col("n_bigrams").cast("double"))
  }

  /** Containment threshold: a pair reports when the intersection covers
    * ≥ 9/10 of the SMALLER shingle set — compared in exact integer
    * space (`inter·10 ≥ n_contained·9`), never as a float.
    */
  val ContainNum = 9
  val ContainDen = 10

  /** Rare-shingle blocking cap: only blocking shingles present in ≤
    * this many docs generate candidate pairs.
    */
  val ContainMaxDf = 16

  /** Blocking shingle width — WIDER than the 3-gram verification
    * shingles, and deliberately so: discrimination grows
    * exponentially with width (|vocab|^w possible shingles), which is
    * the lever that matters on low-entropy corpora. This fixture's
    * ~31-word vocabulary SATURATES the 3-gram space (27k observed of
    * 30k possible), so random doc pairs share 3-grams by chance and a
    * 3-gram inverted index yields 1.04M candidate pairs at sf0.1;
    * 5-gram blocking on the same corpus yields 1,460 (measured — the
    * 9.6 s → sub-second difference in the bench). Contiguous
    * containment preserves the contained doc's 5-gram runs, so the
    * wrap case still blocks together; docs under 5 words have no
    * blocking key and are skipped (below the 3-word shingle floor
    * they have no containment definition either).
    */
  val ContainBlockWidth = 5

  /** Containment (asymmetric-Jaccard) dedup: find pairs where one
    * document's shingle set is ≥ [[ContainNum]]/[[ContainDen]] inside
    * another's — the boilerplate-wrap case symmetric Jaccard
    * structurally misses (a page embedded in a bigger page has
    * J = |A|/|B| → 0 as the wrapper grows, so MinHash-LSH never
    * pairs them, while containment stays 1).
    *
    * Candidates come from RARE-shingle blocking: an inverted index on
    * 60-bit digests of [[ContainBlockWidth]]-gram shingles (wider
    * than the verification 3-grams — see the width constant's
    * Scaladoc for why width is the discrimination lever) keeps only
    * shingles with df ≤ [[ContainMaxDf]], and pairs must co-occur
    * under at least one — pairs per shingle are ≤ df², and the
    * high-df boilerplate shingles (the ones every page shares,
    * exactly the ones that would make an inverted-index join
    * quadratic at 100 TB) generate ZERO pairs. The recall trade is
    * explicit: a contained doc ALL of whose blocking shingles are
    * corpus-common is missed — acceptable because such a doc is pure
    * boilerplate, which upstream quality filters drop anyway. Exact
    * 3-gram intersections are then counted for CANDIDATE pairs only
    * (two keyed joins of the candidate list against the digest sets —
    * candidate-bounded, never corpus²), and the contained/container
    * roles are assigned by set size with the keep-lowest-id tiebreak.
    * Only 8-byte digests ever shuffle. Both digest sets are memoized
    * ([[minhashSignatures]]' rationale: self-join sides defeat
    * plan-level exchange reuse; at cluster scale both are
    * write-once tables).
    */
  /** The distinct (doc, 3-shingle-hash) digest set — shared by
    * [[dedupContainment]] and [[dedupEval]] (same memo key: one
    * artifact per session regardless of which consumer builds it
    * first).
    */
  private def containShingles(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, dir, "contain_shingles") {
      withShingles(spark, dir)
        .select(col("doc_id"), explode(col("shingles")).as("sg"))
        .select(col("doc_id"), rotLong("md5(sg)", 0).as("h"))
        .distinct()
    }

  /** The distinct (doc, [[ContainBlockWidth]]-gram-hash) blocking
    * index — shared by [[dedupContainment]] and [[dedupEval]] (same
    * memo key).
    */
  private def containBlocks(spark: SparkSession, dir: String): DataFrame =
    memoized(spark, dir, "contain_blocks") {
      val w = ContainBlockWidth
      withWordsAttr(spark, dir)
        .where(size(col("words")) >= w)
        .select(col("doc_id"), explode(expr(
          s"transform(sequence(0, size(words) - $w), i -> concat_ws(' ', slice(words, i + 1, $w)))"))
          .as("sg"))
        .select(col("doc_id"), rotLong("md5(sg)", 0).as("h"))
        .distinct()
    }

  /** Ground-truth Jaccard threshold for [[dedupEval]] (τ = 1/2). */
  val EvalJacNum = 1L
  val EvalJacDen = 2L

  /** Dedup-quality evaluation — [[rankEval]]'s role for the dedup
    * family: score the LSH candidate generator ([[dedupMinhashLsh]])
    * against EXACT ground truth (3-shingle Jaccard ≥ τ) and emit the
    * confusion counts with precision/recall. Ground-truth candidates
    * come from the SAME rare-[[ContainBlockWidth]]-gram blocking index
    * [[dedupContainment]] uses (shared memoized artifacts — and the
    * same documented blocking-recall caveat: a τ-similar pair that
    * shares no rare [[ContainBlockWidth]]-gram is invisible to the
    * truth pass; near-dup-shaped corpora always share runs). The
    * 3-shingle blocking first tried here degenerated on the word-soup
    * fixture — at sf0.1 its ~30k-type shingle space has mean df ≈ 13,
    * so "rare-shingle" pairs were ~all-pairs (measured 8.0 s); the
    * 5-gram space is ~10³× larger and collision-driven, the same
    * reason containment made that switch in r8. The threshold test is
    * the cross-multiplied integer form
    * `inter·(num+den) ≥ num·(|A|+|B|)`.
    *
    * Shape at 100 TB: both sides are banded/blocked candidate streams
    * (never all-pairs); the confusion join runs over two pair SETS.
    */
  def dedupEval(spark: SparkSession, dir: String): DataFrame = {
    val sh = containShingles(spark, dir)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val blocks = containBlocks(spark, dir)
    val rare = blocks.join(
      blocks.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .where(col("df") >= 2 && col("df") <= ContainMaxDf),
      Seq("h"))
    val cand = rare.select(col("h"), col("doc_id").as("a"))
      .join(rare.select(col("h"), col("doc_id").as("b")), Seq("h"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    val inter = cand
      .join(sh.select(col("doc_id").as("a"), col("h")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("h")), Seq("b", "h"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    val truth = inter
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
      .where(col("inter") * (EvalJacNum + EvalJacDen) >=
        (col("na") + col("nb")) * EvalJacNum)
      .select(col("a"), col("b"), lit(1L).as("t"))
    val pred = dedupMinhashLsh(spark, dir)
      .select(col("doc_a").as("a"), col("doc_b").as("b"), lit(1L).as("p"))
    truth.join(pred, Seq("a", "b"), "full_outer")
      .agg(sum(coalesce(col("t"), lit(0L))).as("n_true_pairs"),
        sum(coalesce(col("p"), lit(0L))).as("n_cand_pairs"),
        sum(coalesce(col("t"), lit(0L)) * coalesce(col("p"), lit(0L)))
          .as("n_tp"))
      .select(col("n_true_pairs"), col("n_cand_pairs"), col("n_tp"),
        when(col("n_cand_pairs") > 0L,
          col("n_tp").cast("double") / col("n_cand_pairs").cast("double"))
          .as("precision"),
        when(col("n_true_pairs") > 0L,
          col("n_tp").cast("double") / col("n_true_pairs").cast("double"))
          .as("recall"))
  }

  def dedupContainment(spark: SparkSession, dir: String): DataFrame = {
    // memoized like minhashSignatures, and for the same reason: the
    // distinct digest set feeds FIVE consumers (df counts, both
    // candidate-join sides, both intersection-join sides) and
    // plan-level exchange reuse does not deduplicate self-join sides —
    // unmemoized this query recomputed the explode+md5+distinct per
    // consumer and was the whole suite's slowest entry (9.6 s at
    // sf0.1; 0.9 s memoized). At cluster scale the digest set is the
    // artifact you write to a table once.
    val sh = containShingles(spark, dir)
    val sizes = sh.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    val blocks = containBlocks(spark, dir)
    val rare = blocks.join(
      blocks.groupBy(col("h")).agg(count(lit(1)).as("df"))
        .where(col("df") <= ContainMaxDf),
      Seq("h"))
    val cand = rare.select(col("h"), col("doc_id").as("a"))
      .join(rare.select(col("h"), col("doc_id").as("b")), Seq("h"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    val inter = cand
      .join(sh.select(col("doc_id").as("a"), col("h")), Seq("a"))
      .join(sh.select(col("doc_id").as("b"), col("h")), Seq("b", "h"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("inter"))
    val aContained = col("na") < col("nb") ||
      (col("na") === col("nb") && col("a") > col("b"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("n").as("na")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("n").as("nb")), Seq("b"))
      .select(
        when(aContained, col("a")).otherwise(col("b")).as("contained_id"),
        when(aContained, col("b")).otherwise(col("a")).as("container_id"),
        least(col("na"), col("nb")).as("n_contained"),
        greatest(col("na"), col("nb")).as("n_container"),
        col("inter"))
      .where(col("inter") * ContainDen >= col("n_contained") * ContainNum)
      .withColumn("containment",
        col("inter").cast("double") / col("n_contained").cast("double"))
  }

  /** Sliding-window chunking for retrieval/RAG ingestion: fixed
    * [[ChunkWindow]]-token windows starting every [[ChunkStride]]
    * tokens (overlap = window − stride), the standard recall-
    * preserving split that keeps any span shorter than the overlap
    * fully inside at least one chunk. Emits per chunk its offset,
    * token count, text, and an md5 content hash — the key chunk-level
    * exact dedup ([[dedupExact]]'s grouping) and provenance joins run
    * on downstream.
    *
    * Chunk i covers tokens [i·stride, i·stride + window); chunks exist
    * for every start < n, so a document yields ceil(n / stride)
    * chunks and trailing chunks may be short — the convention that
    * makes chunk count a pure function of length. The stride divisor
    * is exact on both engines: when n is a multiple of the stride the
    * IEEE quotient is exactly integral (correct rounding returns a
    * representable exact quotient), so the ceil never wobbles.
    *
    * Shape at 100 TB: a pure per-row Generate projection — zero
    * exchanges, reads only (doc_id, text), output ~(1 + overlap/
    * stride)× the corpus in bytes. The words array is materialized
    * behind the [[withWordsAttr]] Generate barrier because the window
    * lambda INDEXES into it (the CollapseProject O(tokens²) trap
    * documented there). Window/stride are small here to exercise the
    * fixture's ~54-token docs; a production ingest uses e.g. 512/384
    * with the identical plan.
    */
  val ChunkWindow = 32
  val ChunkStride = 24

  def chunks(spark: SparkSession, dir: String): DataFrame = {
    val (w, s) = (ChunkWindow, ChunkStride)
    withWordsAttr(spark, dir)
      .select(col("doc_id"), size(col("words")).cast("long").as("n"), col("words"))
      .select(col("doc_id"), col("n"),
        posexplode(expr(
          s"""transform(sequence(0, CAST(ceil(n / CAST($s AS DOUBLE)) AS INT) - 1),
             |          i -> array_join(slice(words, i * $s + 1, $w), ' '))""".stripMargin))
          .as(Seq("chunk_id", "chunk_text")))
      .select(col("doc_id"),
        col("chunk_id").cast("long").as("chunk_id"),
        (col("chunk_id").cast("long") * s).as("start_token"),
        least(lit(w.toLong), col("n") - col("chunk_id").cast("long") * s).as("n_tokens"),
        col("chunk_text"),
        md5(col("chunk_text")).as("chunk_hash"))
  }

  /** Chunk-level exact dedup over [[chunks]] — the RAG-ingest
    * composition: repeated chunk text across (or within) documents is
    * boilerplate the retrieval index should store once (duplicated
    * chunks poison nearest-neighbor lists with identical hits). Groups
    * on the chunk content hash, reports every hash occurring more than
    * once with its occurrence/document counts and the keeper
    * occurrence under the keep-lowest-(doc, chunk) convention — the
    * same policy as [[dedupExact]], at chunk granularity (the
    * segment-level [[dedupSegments]] deduplicates fixed word windows;
    * this deduplicates the actual retrieval units).
    *
    * The keeper arg-min rides the aggregate as one packed value
    * (`doc_id · 2^32 + chunk_id`) held in DECIMAL(38,0) — the r14 sf1
    * pass caught the original Long packing overflowing for
    * doc_id ≥ 2^31 (real deployments carry snowflake-sized ids; the
    * decimal pack is exact to doc_id < 10^28). No document reaches
    * 2^32 chunks: at the production 512/384 chunking that would be a
    * ~1.6-trillion-token document — a narrower radix would let a long
    * document's chunk_id bleed into the doc bits and silently corrupt
    * both the arg-min ordering and the decode; TextOpsSpec pins a
    * >1024-chunk document. The keeper doc decodes WITHOUT decimal
    * division: `min(doc_id)` IS the keeper doc (the packed order is
    * doc-major), and the chunk is the packed min mod the radix — so
    * both engines agree exactly with no struct-min portability
    * question (the oracle packs in HUGEINT, same integer values).
    * Shape: the [[chunks]] Generate (zero exchanges) followed by ONE
    * hash-keyed partial-aggregated groupBy — only 32-char digests and
    * small integers shuffle.
    */
  val ChunkPackRadix: Long = 1L << 32

  def chunkDedup(spark: SparkSession, dir: String): DataFrame =
    chunkDedupFrom(chunks(spark, dir))

  /** [[chunkDedup]] over an arbitrary chunks relation (spec seam for
    * synthetic >1024-chunk documents).
    */
  private[graft] def chunkDedupFrom(ch: DataFrame): DataFrame =
    ch
      .groupBy(col("chunk_hash"))
      .agg(count(lit(1)).as("n_occurrences"),
        countDistinct(col("doc_id")).as("n_docs"),
        min(col("doc_id")).as("keeper_doc"),
        min(col("doc_id").cast("decimal(38,0)") * lit(ChunkPackRadix)
          + col("chunk_id")).as("keeper_packed"),
        min(col("n_tokens")).as("n_tokens"))
      .where(col("n_occurrences") > 1)
      .select(col("chunk_hash"), col("n_occurrences"), col("n_docs"),
        col("keeper_doc"),
        expr(s"CAST(keeper_packed % $ChunkPackRadix AS BIGINT)")
          .as("keeper_chunk"),
        col("n_tokens"))

  /** The BM25 scoring engine behind [[bm25]] and
    * [[Retrieval.hybridRrf]]: `queries` is any (query_id, term)
    * relation (assumed tiny — it broadcasts); `excludeSelf` drops the
    * corpus document whose doc_id equals the query_id (the
    * query-by-document retrieval mode, where the query doc itself is
    * a degenerate rank-1 hit).
    */
  private[operators] def bm25Ranked(spark: SparkSession, dir: String,
      queries: DataFrame, excludeSelf: Boolean): DataFrame = {
    // The index-backed tower, flattened to the stage count a serving
    // tier actually pays (guide §2.4 — remove exchanges outright).
    // Previously this path ran FOUR aggregate/broadcast subtrees per
    // query (qterms distinct → semi-join cut, per-query df re-aggregate
    // of the cut postings, 1-row corpus-stats aggregate, query-terms
    // attach); df and the corpus stats are INDEX data ([[termStats]],
    // [[bm25Stats]] — Lucene's term dictionary and index stats block),
    // so one broadcast probe of the queries into the term dictionary
    // restricts the postings scan AND attaches (query_id, df) in a
    // single join, with the stats embedded as literals. The df values
    // are identical to the per-query re-aggregate (restricting postings
    // to the query vocabulary never changes a term's own row count) and
    // the scoring arithmetic is the [[bm25CgTable]] expression tree
    // verbatim, so every score is bit-identical.
    val (nDocs, dlSum) = bm25Stats(spark, dir)
    val qdf = termStats(spark, dir)
      .join(broadcast(queries), Seq("term"))
      .select(col("query_id"), col("term"), col("df"))
    // computed driver-side: an in-plan 0/0 constant-folds to a
    // DIVIDE_BY_ZERO under ANSI on an empty corpus (value irrelevant
    // there — the postings join yields no rows)
    val avgdl = lit(if (nDocs == 0L) 1.0 else dlSum.toDouble / nDocs)
    val cg = postingsIndex(spark, dir)
      .join(broadcast(qdf), Seq("term"))
      .join(docLenIndex(spark, dir), Seq("doc_id"))
      .withColumn("idf",
        (lit(nDocs).cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)) + lit(1.0))
      .withColumn("norm",
        lit(0.25) + lit(0.75) * (col("dl").cast("double") / avgdl))
      .withColumn("cg",
        floor(col("idf") * ((col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") + lit(1.2) * col("norm"))) *
          expr(Bm25Grid)).cast("long"))
    // one exchange for aggregate AND window: hash(query_id) clusters
    // (query_id, doc_id) groups too, so the rank window reuses the
    // aggregate's partitioning instead of re-shuffling (ClusteredDistribution
    // accepts the subset key)
    val scored = (if (excludeSelf) cg.where(col("doc_id") =!= col("query_id"))
      else cg)
      .repartition(col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("cg")).as("score"), count(lit(1)).as("n_matched"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= Bm25TopK)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("score"), col("n_matched"))
  }

  /** [[bm25Ranked]] over materialized index relations — `tf` is a
    * (doc_id, term, tf) postings relation already restricted to the
    * query vocabulary, `docLens` a (doc_id, dl) length relation. The
    * seam the INCREMENTAL index reads through:
    * [[graft.streaming.StreamingRetrieval]] rebuilds both from its
    * per-batch stores and gets scoring bit-identical to the batch
    * operator, because every downstream step (df, idf, the integer
    * grid) runs HERE, off the same relations.
    */
  /** The per-(doc, term) BM25 grid contribution (`cg`) relation shared
    * by [[bm25RankedFrom]] (per-query ranking) and [[bm25ScoreTable]]
    * (per-doc total) — ONE definition of the scoring arithmetic, so a
    * ranked read and a score-table read can never drift.
    */
  private def bm25CgTable(tf: DataFrame, docLens: DataFrame): DataFrame = {
    // count(dl)/sum(dl) both skip null-text docs on both engines
    val stats = docLens.agg(
      count(col("dl")).as("n_docs"), sum(col("dl")).as("dl_sum"))
    val dfq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    tf.join(broadcast(dfq), Seq("term"))
      .join(docLens, Seq("doc_id"))
      .crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("dl_sum").cast("double") / col("n_docs").cast("double"))
      .withColumn("idf",
        (col("n_docs").cast("double") - col("df").cast("double") + lit(0.5)) /
          (col("df").cast("double") + lit(0.5)) + lit(1.0))
      .withColumn("norm",
        lit(0.25) + lit(0.75) * (col("dl").cast("double") / col("avgdl")))
      .withColumn("cg",
        floor(col("idf") * ((col("tf").cast("double") * lit(2.2)) /
          (col("tf").cast("double") + lit(1.2) * col("norm"))) *
          expr(Bm25Grid)).cast("long"))
  }

  /** Per-DOC total BM25 score over ONE term set (no query relation, no
    * top-k cut): the leaf scorer of [[graft.plans.QueryDsl]]'s query
    * context, where each `match`/`term` clause needs every matching
    * doc's score so bool/dis_max combinators can join them. `tf` must
    * already be restricted to the clause's terms.
    */
  private[graft] def bm25ScoreTable(tf: DataFrame, docLens: DataFrame): DataFrame =
    bm25CgTable(tf, docLens)
      .groupBy(col("doc_id"))
      .agg(sum(col("cg")).as("score"), count(lit(1)).as("n_matched"))

  private[graft] def bm25RankedFrom(tf: DataFrame, docLens: DataFrame,
      queries: DataFrame, excludeSelf: Boolean): DataFrame = {
    val joined = bm25CgTable(tf, docLens).join(broadcast(queries), Seq("term"))
    val scored = (if (excludeSelf) joined.where(col("doc_id") =!= col("query_id"))
      else joined)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("cg")).as("score"), count(lit(1)).as("n_matched"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= Bm25TopK)
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("score"), col("n_matched"))
  }

  /** more_like_this seed documents (ES MLT's `like` docs) — literal
    * doc_ids present at every SF (the serving-request stand-in, same
    * device as [[bm25Queries]]).
    */
  val MltSeeds: Seq[Long] = Seq(3L, 11L, 42L)
  /** ES `max_query_terms` (default 25 upstream; 8 keeps the fixture
    * workload readable) and `min_doc_freq` (terms in fewer docs are
    * too rare to generalize from — ES's own default gate).
    */
  val MltMaxTerms = 8
  val MltMinDocFreq = 2

  /** ES `more_like_this`: find documents similar to given SEED docs.
    * Two phases, both index reads: (1) select the seed's most
    * informative terms — per (seed, term) score tf·(N+1)/(df+1), the
    * [[tfidf]] log-free ratio (rank order is what matters; the ratio
    * avoids cross-engine `ln`), df from the FULL stored index, keep
    * the top [[MltMaxTerms]] by (score DESC, term ASC) after the
    * [[MltMinDocFreq]] gate; (2) run those terms as a standard
    * [[bm25RankedFrom]] query with the seed itself excluded
    * (`excludeSelf` — ES never returns the `like` doc). Phase 1's
    * seed-side relation is |seeds|·L rows — broadcast into the
    * vocabulary-sized df aggregate, so the only corpus-scale work is
    * the one term-keyed df shuffle the index build already pays.
    * Reference: the ES query DSL family surveyed in SURVEY.md §2.7
    * (lib/fetchPaginatedAssets.ts:21-38 is the bool-query half).
    */
  def moreLikeThis(spark: SparkSession, dir: String): DataFrame =
    moreLikeThisFor(spark, dir, MltSeeds)

  /** [[moreLikeThis]] over an explicit seed set — the workload dial
    * the scale probe widens (corpus-side work is seed-independent; the
    * seed relation is |seeds|·L broadcast rows).
    */
  def moreLikeThisFor(spark: SparkSession, dir: String,
      seedIds: Seq[Long]): DataFrame = {
    import spark.implicits._
    val seeds = seedIds.toDF("query_id")
    val postings = postingsIndex(spark, dir)
    val seedTf = postings.join(broadcast(seeds),
      postings("doc_id") === seeds("query_id"))
      .select(col("query_id"), col("term"), col("tf"))
    // df and n_docs are the stored dictionary/index stats
    // ([[termStats]] / [[bm25Stats]]) — previously re-aggregated from
    // the full postings per run (a vocabulary-keyed corpus pass the
    // index already paid at build time). Identical values: termStats.df
    // IS count(*) per term over the postings, bm25Stats._1 IS
    // count(dl).
    val nDocs = bm25Stats(spark, dir)._1
    val scored = termStats(spark, dir).join(broadcast(seedTf), Seq("term"))
      .where(col("df") >= MltMinDocFreq)
      .withColumn("mlt_score",
        col("tf").cast("double") *
          ((lit(nDocs) + lit(1)).cast("double") /
            (col("df") + lit(1)).cast("double")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("mlt_score").desc, col("term").asc)
    val qterms = scored.withColumn("r", row_number().over(w))
      .where(col("r") <= MltMaxTerms)
      .select(col("query_id"), col("term"))
    bm25Ranked(spark, dir, qterms, excludeSelf = true)
  }

  /** Term-suggester inputs (ES `suggest` request terms): three true
    * misspellings, one exact vocabulary term (distance-0 case), one
    * out-of-vocabulary negative.
    */
  val SuggestInputs: Seq[String] =
    Seq("ordr", "scann", "colum", "vektor", "key", "zebra")
  val SuggestTopK = 3
  /** Max edit distance — 1, the deletion-1 neighborhood's completeness
    * bound (SymSpell: every Levenshtein-1 pair shares a 1-deletion
    * key). ES's `max_edits: 2` tier would swap in deletion-2 keys
    * (L² keys per term) — same join shape, bigger blocking index.
    */
  val SuggestMaxEdits = 1

  /** ES term suggester ("did you mean"): for each input term, the top
    * vocabulary terms within [[SuggestMaxEdits]] edits, ranked by
    * (distance ASC, corpus frequency DESC, term ASC). Candidate
    * generation is SymSpell deletion blocking — explode each side to
    * its 1-deletion keys (term itself + one char removed) and
    * equi-join on the key — so the work is vocab·(L+1) index rows and
    * a key-partitioned join, never a query×vocab cross product; exact
    * `levenshtein` then verifies the candidates (both engines ship
    * the classic DP, integer-exact). Vocabulary and frequency come
    * from the stored [[postingsIndex]] — the suggester reads the same
    * artifact ES's does.
    */
  def suggest(spark: SparkSession, dir: String): DataFrame = {
    val cands = suggestCands(spark, dir, SuggestInputs)
    val w = Window.partitionBy(col("input_term"))
      .orderBy(col("dist").asc, col("freq").desc, col("term").asc)
    cands.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= SuggestTopK)
      .select(col("input_term"), col("rank"),
        col("term").as("suggestion"), col("dist"), col("freq"))
  }

  /** [[suggest]]'s candidate generator, factored for the PHRASE
    * suggester: deletion-1 blocked, levenshtein-verified
    * (input_term, term, dist, freq) candidates, unranked.
    */
  private def suggestCands(spark: SparkSession, dir: String,
      inputTerms: Seq[String]): DataFrame =
    // (term, freq) read from the stored term dictionary ([[termStats]]
    // — freq IS sum(tf) per term) instead of re-aggregating postings
    suggestCandsFrom(termStats(spark, dir).select(col("term"), col("freq")),
      inputTerms)

  /** The candidate generator over ANY (term, freq) vocabulary — the
    * seam the streaming postings store reads through
    * ([[graft.streaming.StreamingRetrieval]].fuzzySearch), like
    * [[suggestCompletionFrom]] for the completion suggester.
    */
  private[graft] def suggestCandsFrom(vocabFreq: DataFrame,
      inputTerms: Seq[String]): DataFrame = {
    val s = vocabFreq.sparkSession
    import s.implicits._
    def delKeys(c: String): String =
      s"""array_distinct(concat(array($c),
         |  transform(sequence(1, length($c)),
         |    i -> concat(substr($c, 1, i - 1), substr($c, i + 1)))))""".stripMargin
    val vocab = vocabFreq
      .select(col("term"), col("freq"),
        explode(expr(delKeys("term"))).as("key"))
    val inputs = inputTerms.toDF("input_term")
      .select(col("input_term"),
        explode(expr(delKeys("input_term"))).as("key"))
    vocab.join(broadcast(inputs), Seq("key"))
      .select(col("input_term"), col("term"), col("freq")).distinct()
      .withColumn("dist",
        levenshtein(col("input_term"), col("term")).cast("long"))
      .where(col("dist") <= SuggestMaxEdits)
  }

  /** Completion-suggester inputs (ES `completion` prefixes): a
    * single-char prefix (many matches, budget pressure), two 2-char
    * prefixes, a 4-char prefix, one full vocabulary word (a prefix of
    * itself), and an out-of-vocabulary negative.
    */
  val CompletionInputs: Seq[String] =
    Seq("s", "st", "co", "cust", "join", "zeb")
  val CompletionTopK = 3

  /** Prefix-index depth: the vocabulary explodes to prefixes of at
    * most this length (ES's FST holds all depths; a relational
    * completion index caps the key length and verifies the tail).
    * Inputs LONGER than the cap stay correct — they block on their
    * first [[CompletionMaxPrefix]] chars and the exact
    * starts-with predicate verifies the rest.
    */
  val CompletionMaxPrefix = 4

  /** ES `completion` suggester (search-as-you-type): for each input
    * prefix, the top-[[CompletionTopK]] vocabulary terms extending
    * it, ranked by (corpus frequency DESC, term ASC) — ES's
    * default-weight ordering with the deterministic tiebreak. The
    * candidate generator is the suggester family's blocking device
    * in prefix form: the vocabulary explodes to ≤
    * [[CompletionMaxPrefix]] prefix keys per term (V·L index rows —
    * what ES materializes as the in-memory FST), the input prefixes
    * broadcast onto the key equi-join, and the exact starts-with
    * predicate verifies (only needed past the cap) — never a
    * query×vocab LIKE scan. Vocabulary and frequency come from the
    * stored [[postingsIndex]], the same artifact the term and phrase
    * suggesters read.
    */
  def suggestCompletion(spark: SparkSession, dir: String): DataFrame =
    suggestCompletionFrom(termStats(spark, dir).select(col("term"), col("freq")),
      CompletionInputs)

  /** [[suggestCompletion]] over any (term, freq) vocabulary frame —
    * shared with the incremental index's read side
    * ([[graft.streaming.StreamingRetrieval.completionSearch]]), so the
    * drained store completes bit-identically to the batch operator.
    */
  private[graft] def suggestCompletionFrom(vocab: DataFrame,
      inputTerms: Seq[String], topK: Int = CompletionTopK): DataFrame = {
    val spark = vocab.sparkSession
    import spark.implicits._
    val pfx = vocab.select(col("term"), col("freq"),
      explode(expr(
        s"""transform(sequence(1, least(length(term), $CompletionMaxPrefix)),
           |  i -> substr(term, 1, i))""".stripMargin)).as("key"))
    val inputs = inputTerms.toDF("input_prefix")
      .select(col("input_prefix"),
        expr(s"substr(input_prefix, 1, $CompletionMaxPrefix)").as("key"))
    val cands = pfx.join(broadcast(inputs), Seq("key"))
      .where(expr("substr(term, 1, length(input_prefix)) = input_prefix"))
    val w = Window.partitionBy(col("input_prefix"))
      .orderBy(col("freq").desc, col("term").asc)
    cands.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col("input_prefix"), col("rank"),
        col("term").as("suggestion"), col("freq"))
  }

  /** ES `fuzzy` QUERY (not the suggester: this one returns DOCS): for
    * each input term, every document containing any vocabulary term
    * within [[SuggestMaxEdits]] edits, with the per-doc match summary
    * (distinct matched variants, their tf mass, best distance). The
    * term expansion is the suggester family's SymSpell deletion-1
    * blocking ([[suggest]]'s generator, shared); the doc side is one
    * broadcast cut of the stored postings on the expanded term set —
    * ES's own execution (fuzzy rewrites to a term disjunction against
    * the index).
    */
  def fuzzyQuery(spark: SparkSession, dir: String): DataFrame =
    // term expansion from the stored dictionary ([[termStats]]); the
    // doc probe stays on the stored postings
    fuzzyQueryVia(postingsIndex(spark, dir),
      termStats(spark, dir).select(col("term"), col("freq")), SuggestInputs)

  /** The fuzzy query over ANY (term, doc_id, tf) postings frame — the
    * streaming read seam (term expansion from the frame's own
    * vocabulary sums, doc probe on the same frame).
    */
  private[graft] def fuzzyQueryFrom(postings: DataFrame,
      inputs: Seq[String]): DataFrame =
    fuzzyQueryVia(postings,
      postings.groupBy(col("term")).agg(sum(col("tf")).as("freq")), inputs)

  private def fuzzyQueryVia(postings: DataFrame, vocabFreq: DataFrame,
      inputs: Seq[String]): DataFrame =
    postings
      .join(broadcast(
        suggestCandsFrom(vocabFreq, inputs)
          .select(col("input_term"), col("term"), col("dist"))), Seq("term"))
      .groupBy(col("input_term"), col("doc_id"))
      .agg(countDistinct(col("term")).as("n_terms_matched"),
        sum(col("tf")).as("total_tf"), min(col("dist")).as("min_dist"))

  /** Wildcard workload — one star at either end: two prefix patterns
    * (one OOV), two suffix patterns, one OOV suffix. */
  val WildcardQueries: Seq[String] = Seq("ord*", "*er", "*ream", "zeb*", "*xx")

  /** ES `wildcard` query, both anchors: a trailing star resolves
    * through the FORWARD prefix index (the [[suggestCompletionFrom]]
    * device), a LEADING star through the REVERSED-term prefix index —
    * the classic reverse-field device every search engine uses for
    * leading wildcards, because a raw leading-star is a full term
    * dictionary scan. Emits the resolved term dictionary per pattern
    * with document and occurrence mass (what ES's wildcard rewrite
    * produces before scoring); both sides are vocab-sized exploded
    * key joins, never a corpus LIKE scan.
    */
  def wildcardSearch(spark: SparkSession, dir: String): DataFrame =
    wildcardSearchVia(termStats(spark, dir).select(col("term"),
      col("df").as("n_docs"), col("freq").as("total_tf")))

  /** The wildcard query over ANY (term, doc_id, tf) postings frame —
    * the streaming read seam (both prefix indexes build from the
    * frame's own term dictionary).
    */
  private[graft] def wildcardSearchFrom(postings: DataFrame): DataFrame =
    wildcardSearchVia(postings
      .groupBy(col("term"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tf")).as("total_tf")))

  /** [[wildcardSearchFrom]] over an already-aggregated (term, n_docs,
    * total_tf) dictionary — the batch path reads [[termStats]] here
    * instead of re-aggregating the postings per run.
    */
  private def wildcardSearchVia(stats: DataFrame): DataFrame = {
    val spark = stats.sparkSession
    import spark.implicits._
    // keyOf is spliced into SQL expression strings, so it is a plain
    // SQL fragment — not a Column round-tripped through toString,
    // whose pretty-printed form is not guaranteed parseable
    def side(pats: Seq[(String, String)], keyOf: String): DataFrame = {
      val inputs = pats.toDF("pattern", "body")
        .select(col("pattern"), col("body"),
          expr(s"substr(body, 1, $CompletionMaxPrefix)").as("key"))
      stats.select(col("term"), col("n_docs"), col("total_tf"),
          explode(expr(
            s"""transform(sequence(1, least(length(term), $CompletionMaxPrefix)),
               |  i -> substr($keyOf, 1, i))""".stripMargin)).as("key"))
        .join(broadcast(inputs), Seq("key"))
        .where(expr(s"substr($keyOf, 1, length(body)) = body"))
        .select(col("pattern"), col("term"), col("n_docs"), col("total_tf"))
    }
    val pre = WildcardQueries.filter(_.endsWith("*"))
      .map(p => (p, p.stripSuffix("*")))
    val suf = WildcardQueries.filter(_.startsWith("*"))
      .map(p => (p, p.stripPrefix("*").reverse))
    side(pre, "term").unionAll(side(suf, "reverse(term)"))
  }

  /** Highlighter window: words kept each side of the first match. */
  val HlWindow = 3
  /** Highlighted docs per query — the "show snippets for the first
    * page" serving shape (top 3 of the BM25 ranking).
    */
  val HlTopK = 3

  /** ES highlighting: for each (query, top-doc) of the [[bm25]]
    * ranking, a fragment of ±[[HlWindow]] words around the FIRST
    * query-term occurrence, with every query term in the fragment
    * wrapped in `<em>` tags. Pure per-row array work after the two
    * broadcast joins (ranked top-k ⋈ docs on doc_id is the only
    * corpus-side probe; the query-term arrays are a literal): first
    * position = min over query terms of `array_position` (>0 filter
    * drops absent terms; n_matched ≥ 1 guarantees a hit), fragment =
    * `slice` + per-word conditional wrap + join. Output is flat
    * strings — no array columns cross the driver boundary.
    */
  def highlight(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ranked = bm25(spark, dir).where(col("rank") <= HlTopK)
    val qarr = bm25Queries.map { case (q, ts) => (q, ts.distinct.sorted) }
      .toDF("query_id", "qterms")
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("words"))
    ranked.join(docs, Seq("doc_id"))
      .join(broadcast(qarr), Seq("query_id"))
      .withColumn("first_pos", expr(
        "array_min(filter(transform(qterms, t -> array_position(words, t)), p -> p > 0))"))
      .withColumn("frag_start",
        greatest(lit(1L), col("first_pos") - lit(HlWindow.toLong)))
      .withColumn("fragment", expr(
        s"""array_join(transform(
           |  slice(words, CAST(frag_start AS INT),
           |    CAST(first_pos + $HlWindow - frag_start + 1 AS INT)),
           |  w -> IF(array_contains(qterms, w),
           |    concat('<em>', w, '</em>'), w)), ' ')""".stripMargin))
      .select(col("query_id"), col("rank"), col("doc_id"),
        col("first_pos"), col("frag_start"), col("fragment"))
  }

  /** Proximity workload — (query_id, first term, second term, slop):
    * an adjacent-heavy pair, a loose pair, an out-of-vocabulary
    * negative, and a repeated-term pair (p2 > p1 strictly).
    */
  val NearQueries: Seq[(Long, String, String, Int)] = Seq(
    (0L, "order", "fast", 2),
    (1L, "stream", "column", 4),
    (2L, "slow", "zebra", 3),
    (3L, "batch", "batch", 2))

  /** ES `span_near` (ordered, in_order: true): term b within `slop`
    * positions AFTER term a (gap 0 = adjacent). Like
    * [[phraseSearch]], a positional-index read — and like the rolling
    * windows, the slop is handled by EXPLODING each a-position to its
    * ≤ slop+1 admissible b-positions and equi-joining on the exact
    * (doc, pos, term) key: no range join, no per-doc M×N position
    * blowup, candidate stream bounded by tf(a)·(slop+1). Emits per
    * (query, doc) the matched (a, b) pair count and the first a
    * position.
    */
  def nearSearch(spark: SparkSession, dir: String,
      workload: Seq[(Long, String, String, Int)] = NearQueries): DataFrame = {
    import spark.implicits._
    val q = workload.map { case (id, a, b, s) => (id, a, b, s.toLong) }
      .toDF("query_id", "term_a", "term_b", "slop")
    val pi = positionsIndex(spark, dir)
    val aSide = pi.join(broadcast(q), col("term") === col("term_a"))
      .select(col("query_id"), col("doc_id"), col("pos").as("p1"),
        col("term_b"),
        explode(expr("sequence(pos + 1, pos + 1 + slop)")).as("p2"))
    aSide.join(pi.select(col("doc_id"), col("pos").as("p2"),
        col("term").as("term_b")), Seq("doc_id", "p2", "term_b"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_occurrences"), min(col("p1")).as("first_pos"))
  }

  /** Phrase-suggester workload — two-slot inputs: both slots
    * misspelled, first slot misspelled + exact second, and an
    * out-of-vocabulary second slot (no candidate → no suggestion, the
    * negative).
    */
  val PhraseSuggestInputs: Seq[(Long, String, String)] = Seq(
    (0L, "ordr", "scann"),
    (1L, "fst", "joinn"),
    (2L, "slow", "zebra"))
  val PhraseSuggestTopK = 3

  /** ES phrase suggester ("did you mean", whole-phrase): per input
    * slot the deletion-1/levenshtein candidate set ([[suggestCands]] —
    * the term suggester's generator), slot candidates crossed WITHIN
    * each phrase (tiny: |cands_a|·|cands_b| per input), then rescored
    * by the corpus bigram LANGUAGE MODEL — the [[surprisal]] bigram
    * counts — so "order scan" outranks a frequency-plausible but
    * never-adjacent pair (exactly ES's candidate-generator + LM-scorer
    * split). Ranking key (bigram count DESC, total edit distance ASC,
    * candidates ASC) is all-integer. Plan shape (the r13 fix, then
    * tightened): the candidate-pair frame is MATERIALIZED once
    * (cutLineage — it is |inputs|·|cands|² tiny, and it feeds two
    * consumers), its keys broadcast-semi-cut the exploded bigram
    * STREAM before the aggregation shuffle — so only candidate-pair
    * bigrams ever shuffle, not the vocabulary²-bounded corpus bigram
    * table (r13 aggregated it all and then asked for an unsupported
    * broadcast on the build-right side of a right-outer join, which
    * Spark silently dropped into a corpus-sorting SMJ) — and the
    * zero-count pairs re-attach via a tiny-to-tiny left join.
    */
  def suggestPhrase(spark: SparkSession, dir: String): DataFrame = {
    val inputs = PhraseSuggestInputs.flatMap { case (_, a, b) => Seq(a, b) }.distinct
    suggestPhraseFrom(suggestCands(spark, dir, inputs),
      withWordsAttr(spark, dir).select(col("words")),
      PhraseSuggestInputs, PhraseSuggestTopK)
  }

  /** [[suggestPhrase]]'s candidate-cross + bigram-LM rescoring over
    * ANY (input_term, term, dist) candidate frame and words-array
    * corpus — the seam the query-DSL phrase suggester lowers through
    * ([[graft.plans.QueryDsl]]), so a compiled `suggest.phrase`
    * request scores bit-identically to the batch operator.
    */
  private[graft] def suggestPhraseFrom(cands: DataFrame, words: DataFrame,
      workload: Seq[(Long, String, String)], topK: Int): DataFrame = {
    val spark = cands.sparkSession
    import spark.implicits._
    val ph = workload.toDF("query_id", "in_a", "in_b")
    val pairs = cutLineage(ph // tiny; feeds the key cut AND the final join
      .join(cands.select(col("input_term").as("in_a"),
        col("term").as("cand_a"), col("dist").as("dist_a")), Seq("in_a"))
      .join(cands.select(col("input_term").as("in_b"),
        col("term").as("cand_b"), col("dist").as("dist_b")), Seq("in_b")))
    val keys = pairs.select(col("cand_a"), col("cand_b")).distinct()
    val bgCut = words
      .where(size(col("words")) >= 2)
      .select(posexplode(expr(
        "transform(sequence(0, size(words) - 2), i -> struct(words[i] AS w1, words[i + 1] AS w2))"))
        .as(Seq("pos", "bg")))
      .select(col("bg.w1").as("cand_a"), col("bg.w2").as("cand_b"))
      .join(broadcast(keys), Seq("cand_a", "cand_b")) // map-side cut pre-shuffle
      .groupBy(col("cand_a"), col("cand_b")).agg(count(lit(1)).as("c_bg"))
    val scored = pairs.join(broadcast(bgCut), Seq("cand_a", "cand_b"), "left")
      .withColumn("bg_count", coalesce(col("c_bg"), lit(0L)))
      .withColumn("dist_sum", col("dist_a") + col("dist_b"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("bg_count").desc, col("dist_sum").asc,
        col("cand_a").asc, col("cand_b").asc)
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .where(col("rank") <= topK)
      .select(col("query_id"), col("rank"),
        col("cand_a").as("suggestion_a"), col("cand_b").as("suggestion_b"),
        col("bg_count"), col("dist_sum"))
  }

  /** ES percolate — search INVERTED: the stored queries are the index,
    * arriving documents are probed against them ("which of my saved
    * alerts/routing rules does this doc trigger"). Stored queries =
    * the [[bm25Queries]] term sets as conjunctions (bool/must); a doc
    * matches when EVERY query term appears. Mechanics: the broadcast
    * (query, term) table cuts the stored postings map-side (only
    * percolator-vocabulary postings reach the shuffle — the
    * [[bm25Ranked]] pre-cut), one (doc, query) group counts DISTINCT
    * matched terms, and `n_matched = |query|` is the conjunction
    * test. At scale this is the standard set-containment join; the
    * per-term candidate streams stay bucket-bounded exactly like the
    * phrase search's. Emits matches only (ES returns matching query
    * ids per doc).
    */
  def percolate(spark: SparkSession, dir: String,
      workload: Seq[(Long, Seq[String])] = bm25Queries): DataFrame = {
    import spark.implicits._
    val q = workload.flatMap { case (id, ts) =>
      ts.distinct.map(t => (id, t, ts.distinct.length.toLong))
    }.toDF("query_id", "term", "n_terms")
    postingsIndex(spark, dir)
      .join(broadcast(q), Seq("term"))
      .groupBy(col("doc_id"), col("query_id"), col("n_terms"))
      .agg(countDistinct(col("term")).as("n_matched"))
      .where(col("n_matched") === col("n_terms"))
      .select(col("doc_id"), col("query_id"), col("n_matched"))
  }

  /** Composed RAG retrieval — the modern ingest-then-serve story in
    * one operator: [[chunks]] the corpus into overlapping retrieval
    * units, drop duplicate chunk text down to its keeper occurrence
    * (the [[chunkDedup]] keep-lowest-packed-id convention — duplicated
    * boilerplate otherwise poisons every nearest list with identical
    * hits), then rank chunks for the [[bm25Queries]] workload through
    * the SAME [[bm25RankedFrom]] scoring the document index uses —
    * the chunk key is the packed `doc·2^32 + chunk` value held in
    * DECIMAL(38,0) (the r14 sf1 pass caught the Long form overflowing
    * for doc_id ≥ 2^31 — see [[chunkDedupFrom]]), decoded back to
    * (doc_id, chunk_id) by broadcast-joining the ≤|Q|·topK ranked rows
    * into the chunk id map (no decimal division crosses an engine).
    * Every stage is an existing audited shape: one Generate
    * (chunking), one hash-keyed keeper groupBy, one term-keyed
    * postings aggregate, the BM25 broadcast chain.
    */
  def ragRetrieve(spark: SparkSession, dir: String,
      workload: Seq[(Long, Seq[String])] = bm25Queries): DataFrame = {
    import spark.implicits._
    val ch = chunks(spark, dir).select(
      (col("doc_id").cast("decimal(38,0)") * lit(ChunkPackRadix)
        + col("chunk_id")).as("cid"),
      col("doc_id").as("src_doc"), col("chunk_id").as("src_chunk"),
      col("chunk_text"), col("chunk_hash"))
    val keepers = ch.groupBy(col("chunk_hash")).agg(min(col("cid")).as("cid"))
    val kept = ch.join(keepers, Seq("chunk_hash", "cid"))
      .select(col("cid").as("doc_id"), col("chunk_text"))
    val queries = workload.flatMap { case (q, ts) => ts.map(t => (q, t)) }
      .toDF("query_id", "term")
    val qterms = queries.select(col("term")).distinct()
    val tf = kept
      .select(col("doc_id"), explode(split(col("chunk_text"), " ")).as("term"))
      .join(broadcast(qterms), Seq("term"), "left_semi")
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dl = kept.select(col("doc_id"),
      size(split(col("chunk_text"), " ")).as("dl"))
    val ranked = bm25RankedFrom(tf, dl, queries, excludeSelf = false)
    ch.select(col("cid").as("doc_id"), col("src_doc"), col("src_chunk"))
      .join(broadcast(ranked), Seq("doc_id"))
      .select(col("query_id"), col("rank"),
        col("src_doc").as("doc_id"), col("src_chunk").as("chunk_id"),
        col("score"), col("n_matched"))
  }

  /** function_score fixture dials (ES `function_score` request):
    * filter-weight functions (×3 for the boosted sources, ×2 for the
    * boosted language — `score_mode: multiply`), a linear decay on
    * document length (origin/scale), and the rescore-window size.
    */
  val FsBoostSources: Seq[String] = Seq("src1", "src3", "src5")
  val FsBoostLang = "en"
  val FsDecayOrigin = 300L
  val FsDecayScale = 256L
  val FsTopK = 5
  /** Base-score down-shift (integer 2^20 divide) so the final
    * weight·decay product stays far inside Long under ANSI mode.
    */
  val FsScoreShift = 1048576L

  /** ES `function_score` + `rescore`: re-rank the [[bm25]] top window
    * by base_score × filter-weights × linear length decay. Every
    * factor is exact-integer: the BM25 grid score is integer-divided
    * by [[FsScoreShift]] (floor ≡ on positives across engines), the
    * two filter weights are integer CASEs (ES `weight` functions,
    * `score_mode: multiply`), and the ES `linear` decay is kept as its
    * integer NUMERATOR `max(0, scale − |n_chars − origin|)` over the
    * documented constant denominator — ranking is invariant to the
    * shared denominator, so no float ever enters the sort key (the
    * gauss/exp decay tiers would quantize onto the 2^40 grid instead).
    * Corpus-side work: one broadcast probe of the ≤ |Q|·topK ranked
    * rows into `documents` for (source, lang, n_chars).
    */
  def functionScore(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val base = bm25(spark, dir)
    docs.join(broadcast(base), Seq("doc_id"))
      .withColumn("weight",
        when(col("source").isin(FsBoostSources: _*), lit(3L)).otherwise(lit(1L)) *
          when(col("lang") === FsBoostLang, lit(2L)).otherwise(lit(1L)))
      .withColumn("decay_num",
        greatest(lit(0L), lit(FsDecayScale) - abs(col("n_chars") - lit(FsDecayOrigin))))
      .withColumn("final_score",
        expr(s"(score div $FsScoreShift)") * col("weight") * col("decay_num"))
      .withColumn("fs_rank", row_number().over(
        Window.partitionBy(col("query_id"))
          .orderBy(col("final_score").desc, col("doc_id").asc)).cast("long"))
      .where(col("fs_rank") <= FsTopK)
      .select(col("query_id"), col("fs_rank").as("rank"), col("doc_id"),
        col("score").as("base_score"), col("weight"), col("decay_num"),
        col("final_score"))
  }
}
