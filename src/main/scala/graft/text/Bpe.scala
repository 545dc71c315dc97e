package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Corpus-learned byte-pair-encoding (BPE) tokenization — the real
  * token counts behind training-data budgets, replacing the
  * whitespace/"BPE-ish" placeholder of [[TextAnalysis.tokenStats]].
  * Reference scope: the reference engine has no tokenizer (its token
  * surface stops at text length stats, profile_engine.py:200-236);
  * this is a north-star LLM-pipeline operator.
  *
  * == Semantics (fixed, engine-replayable) ==
  *
  * Pre-tokenization: `lower(text)` split on runs of `[^a-z0-9]+`;
  * empty strings dropped. Every word is represented as a
  * separator-framed symbol string — `"|"` + symbols joined by `"||"`
  * + `"|"` — so that one merge step is ONE literal, non-overlapping,
  * left-to-right string replace (`"|x||y|"` → `"|xy|"`): the exact
  * semantics of `replace()` in Spark, DuckDB, Java and Postgres, which
  * is what makes the whole learning loop externally replayable. The
  * separator cannot collide because symbols are `[a-z0-9]`-only.
  *
  * Learning (`learnMerges`): per round, count every adjacent symbol
  * pair over the DISTINCT-WORD vocabulary weighted by word frequency,
  * pick the pair with the highest count — ties broken by lexicographic
  * (left, right), so the merge table is fully deterministic — record
  * it, and apply its replace to the vocabulary. `numMerges` rounds.
  *
  * Encoding (`tokenize` / [[graft.functions.BpeEncode]]): apply the
  * learned merges to each word IN RANK ORDER, each exhaustively
  * left-to-right — identical to the learning-time procedure. (For pure
  * pair merges this equals the classic lowest-rank-first encoder:
  * merging two symbols never creates a new adjacency of two OTHER
  * already-existing symbols, so an earlier merge can never become
  * applicable again after a later one.)
  *
  * == 100 TB shape ==
  *
  * The corpus is scanned ONCE (the word-frequency aggregate, map-side
  * partial). Every learning round then runs over the distinct-word
  * vocabulary — orders of magnitude smaller than the corpus (~10⁷–10⁸
  * rows for web-scale text vs 10¹¹ documents) — as one partial-agg
  * groupBy plus one map-side replace; only the single best-pair row is
  * collected per round (bounded driver state, like the k-means
  * centroids). The vocabulary frame is re-persisted each round and
  * checkpointed periodically (Materialize.rowBlocks local blocks)
  * so lineage stays flat across hundreds of rounds —
  * same discipline as [[graft.dedup.Dedup.connectedComponents]].
  * Encoding is a map-side native expression with no shuffle at all.
  */
object Bpe {

  /** One learned merge: at `rank` (1-based), adjacent symbol pair
    * (`left`, `right`) had the highest corpus pair count `freq`. */
  final case class Merge(rank: Int, left: String, right: String, freq: Long)

  private[graft] val Sep = "|"

  /** `lower`, split on non-alphanumeric runs, drop empties — the fixed
    * pre-tokenization contract shared with the DuckDB replay. */
  private[graft] def words(text: Column): Column =
    filter(split(lower(text), "[^a-z0-9]+"), w => length(w) > 0)

  /** Byte-level pre-tokenization contract (GPT-2-style, simplified to
    * stay replayable under both Java regex and RE2): leading-space
    * letter runs, leading-space digit runs, leading-space punctuation
    * runs, or whitespace runs. Alternation is leftmost-first in both
    * engines and every character lands in exactly one pre-token, so
    * case, punctuation and whitespace all survive into the vocabulary
    * — the fidelity the `[a-z0-9]` word mode destroys. (The GPT-2
    * lookahead `\s+(?!\S)` is dropped: RE2 has no lookahead, so a
    * multi-space run becomes one whitespace pre-token instead of
    * donating its last space to the next word. Whitespace is the
    * EXPLICIT class `[ \t\n\x0B\f\r]` — Java's ASCII `\s` — spelled
    * out because RE2's `\s` omits U+000B, so a bare `\s` would
    * pre-tokenize a vertical tab differently in the two engines.) */
  private[graft] val BytePattern =
    " ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \\t\\n\\x0B\\f\\r]+|[ \\t\\n\\x0B\\f\\r]+"

  /** Byte-level pre-tokens of `text`, in order. */
  private[graft] def preTokensBytes(text: Column): Column =
    regexp_extract_all(text, lit(BytePattern), lit(0))

  /** A pre-token as its separator-framed BYTE-symbol string: each
    * UTF-8 byte is a lowercase 2-hex-digit base symbol, so "Hi" →
    * `"|48||69|"`. Hex symbols are `[0-9a-f]`-only — the same
    * no-collision argument as the word mode's `[a-z0-9]`, with the
    * full byte alphabet (any case, punctuation, whitespace, or
    * multi-byte UTF-8) representable. */
  private[graft] def framedHex(word: Column): Column = {
    val doubled = concat(lit(Sep),
      regexp_replace(lower(hex(encode(word, "UTF-8"))), "(..)", "$1||"))
    substr(doubled, lit(1), length(doubled) - 1)
  }

  /** A word as its separator-framed base-symbol string: "ab" →
    * `"|a||b|"`. Built with the same regexp_replace both engines run. */
  private[graft] def framed(word: Column): Column = {
    val doubled = concat(lit(Sep), regexp_replace(word, "(.)", "$1||"))
    // drop the trailing "|" of the final "||"
    substr(doubled, lit(1), length(doubled) - 1)
  }

  /** Learn `numMerges` merges from `df.textCol`. Returns the merge
    * table in rank order.
    *
    * `byteLevel = true` switches to the [[BytePattern]] byte-alphabet
    * contract: pre-tokens keep case/punctuation/whitespace and base
    * symbols are hex-framed UTF-8 bytes, so the learned table matches
    * what a real byte-level tokenizer would see; merges then name hex
    * symbol strings ("74" + "68" -> "7468"). The default remains the
    * `[a-z0-9]` word mode.
    *
    * == Production depth (the 50k-merge story) ==
    *
    * The corpus is scanned exactly ONCE -- the per-word frequency
    * aggregate, whose map-side combine collapses the corpus's Zipfian
    * word mass into the distinct-word vocabulary. The merge loop then
    * never touches the corpus again, and runs in one of two modes:
    *
    *  - '''Driver-local (the default fast path)''': when the distinct
    *    vocabulary has at most `maxLocalVocab` entries -- true even for
    *    web-scale corpora, whose distinct pre-token counts sit orders
    *    of magnitude below their document counts -- the (word, freq)
    *    table is collected once and [[learnMergesLocal]] runs the
    *    classic incremental trainer (pair-count occurrence index +
    *    lazily invalidated priority queue): ZERO Spark jobs per round,
    *    so a 50 000-merge production vocabulary costs seconds of
    *    driver CPU instead of 50 000 scheduler round-trips. The result
    *    is identical to the distributed loop (same counts, same
    *    (count desc, left, right) tie-break -- symbols are ASCII, so
    *    Java and UTF8String orderings agree, and `String.replace` is
    *    the same literal left-to-right non-overlapping replace the
    *    engines run); BpeSpec pins the equivalence.
    *  - '''Distributed''': above the threshold the loop runs as
    *    before -- one partial-agg pair count over the vocabulary plus
    *    one map-side replace per round, single-row collect, periodic
    *    checkpoints. `pruneBelow > 0` additionally drops words with
    *    freq below the threshold from the loop under a per-round
    *    EXACTNESS certificate: the pruned words' total pair-slot mass
    *    `M = sum(freq * (symbols - 1))` bounds their contribution to
    *    ANY pair's count in EVERY round (merging only shrinks a
    *    word's pair slots), so while the observed top-pair margin
    *    `cnt1 - cnt2 > M` holds, the pruned argmax provably equals
    *    the full-vocabulary argmax. The first round the margin fails,
    *    the pruned words are folded back in (re-framed through the
    *    merges learned so far -- rank-order encoding is exactly the
    *    replayed per-round replace) and learning continues exact on
    *    the full vocabulary. Pruning therefore never changes the
    *    merge SEQUENCE; only the recorded `freq` of certified rounds
    *    is the retained-vocabulary count (a documented lower bound on
    *    the true corpus count). */
  def learnMerges(df: DataFrame, textCol: String,
      numMerges: Int, checkpointEvery: Int = 10,
      byteLevel: Boolean = false,
      maxLocalVocab: Int = 2000000,
      pruneBelow: Long = 0L): Seq[Merge] = {
    require(numMerges >= 1, s"numMerges must be >= 1: $numMerges")
    val wordsOf = if (byteLevel) preTokensBytes(col(textCol)) else words(col(textCol))
    val frameOf: Column => Column = if (byteLevel) framedHex else framed
    // ONE corpus scan: per-word occurrence counts. Distinct words only
    // from here on.
    val wordFreq = df
      .select(explode(wordsOf).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .persist()
    val nWords = wordFreq.count()
    val result =
      if (nWords <= maxLocalVocab.toLong) {
        val rows = wordFreq
          .select(frameOf(col("word")).as("w"), col("freq")).collect()
        learnMergesLocal(
          rows.map(_.getString(0)), rows.map(_.getLong(1)), numMerges)
      } else {
        learnMergesDistributed(
          wordFreq, frameOf, numMerges, checkpointEvery, byteLevel, pruneBelow)
      }
    wordFreq.unpersist()
    result
  }

  /** The exact in-memory merge loop over a collected (framed word,
    * freq) vocabulary -- the standard BPE trainer shape: a pair-count
    * map, a pair -> word-index occurrence index, and a priority queue
    * with lazy invalidation (entries are (count, left, right)
    * snapshots; a popped entry counts only if it still matches the
    * live count). Each round pops the true (count desc, left asc,
    * right asc) argmax and rewrites ONLY the words containing the
    * merged pair, via the same literal `String.replace` the engines
    * replay. Pure Scala, deterministic, no Spark -- unit-tested
    * directly and pinned equal to the distributed loop. */
  private[graft] def learnMergesLocal(
      framedWords: Array[String], freqs: Array[Long],
      numMerges: Int): Seq[Merge] = {
    import scala.collection.mutable
    def syms(w: String): Array[String] =
      w.substring(1, w.length - 1).split("\\|\\|", -1)
    def pairsOf(w: String): Array[(String, String)] = {
      val s = syms(w)
      if (s.length < 2) Array.empty
      else Array.tabulate(s.length - 1)(i => (s(i), s(i + 1)))
    }
    val words = framedWords.clone()
    val counts = mutable.HashMap.empty[(String, String), Long]
    val occ = mutable.HashMap.empty[(String, String), mutable.HashSet[Int]]
    var i = 0
    while (i < words.length) {
      pairsOf(words(i)).foreach { p =>
        counts.update(p, counts.getOrElse(p, 0L) + freqs(i))
        occ.getOrElseUpdate(p, mutable.HashSet.empty) += i
      }
      i += 1
    }
    final case class Entry(cnt: Long, l: String, r: String)
    val pq = new java.util.PriorityQueue[Entry](math.max(1, counts.size),
      (a: Entry, b: Entry) => {
        val c = java.lang.Long.compare(b.cnt, a.cnt)
        if (c != 0) c
        else {
          val lc = a.l.compareTo(b.l)
          if (lc != 0) lc else a.r.compareTo(b.r)
        }
      })
    counts.foreach { case ((l, r), c) => pq.add(Entry(c, l, r)) }
    val merges = Seq.newBuilder[Merge]
    var round = 1
    var exhausted = false
    while (round <= numMerges && !exhausted) {
      var top: Entry = null
      while (top == null && !pq.isEmpty) {
        val e = pq.poll()
        if (counts.getOrElse((e.l, e.r), 0L) == e.cnt) top = e
      }
      if (top == null) exhausted = true
      else {
        merges += Merge(round, top.l, top.r, top.cnt)
        val pat = s"$Sep${top.l}$Sep$Sep${top.r}$Sep"
        val rep = s"$Sep${top.l}${top.r}$Sep"
        val affected = occ.getOrElse((top.l, top.r), mutable.HashSet.empty).toArray
        val changed = mutable.HashSet.empty[(String, String)]
        affected.foreach { idx =>
          val old = words(idx)
          val neu = old.replace(pat, rep)
          if (neu != old) {
            val f = freqs(idx)
            val oldPairs = pairsOf(old)
            val newPairs = pairsOf(neu)
            oldPairs.foreach { p =>
              val c = counts(p) - f
              if (c == 0L) counts.remove(p) else counts.update(p, c)
              changed += p
            }
            newPairs.foreach { p =>
              counts.update(p, counts.getOrElse(p, 0L) + f)
              changed += p
            }
            val oldSet = oldPairs.toSet
            val newSet = newPairs.toSet
            (oldSet diff newSet).foreach(p => occ.get(p).foreach(_ -= idx))
            (newSet diff oldSet)
              .foreach(p => occ.getOrElseUpdate(p, mutable.HashSet.empty) += idx)
            words(idx) = neu
          }
        }
        changed.foreach { p =>
          val c = counts.getOrElse(p, 0L)
          if (c > 0L) pq.add(Entry(c, p._1, p._2))
        }
        round += 1
      }
    }
    merges.result()
  }

  /** The distributed merge loop (vocabulary too large to collect):
    * per round one partial-agg pair count + one map-side replace, with
    * optional margin-certified frequency pruning -- see
    * [[learnMerges]] for the exactness argument. */
  private def learnMergesDistributed(
      wordFreq: DataFrame, frameOf: Column => Column,
      numMerges: Int, checkpointEvery: Int, byteLevel: Boolean,
      pruneBelow: Long): Seq[Merge] = {
    def materialize(v: DataFrame): DataFrame =
      graft.util.Materialize.rowBlocks(v)
    def framedOf(src: DataFrame): DataFrame =
      src.select(frameOf(col("word")).as("w"), col("freq"))
    // split on the literal "||" after trimming the single framing "|"
    // from each end.
    def symsOf = split(expr("substring(w, 2, length(w) - 2)"), "\\|\\|")

    var pruning = pruneBelow > 0
    var vocab = framedOf(
      if (pruning) wordFreq.filter(col("freq") >= pruneBelow) else wordFreq)
      .persist()
    vocab.count() // materialize before the loop
    // Upper bound on the pruned words' contribution to ANY pair count
    // in ANY round: each pruned word has (symbols - 1) adjacent pair
    // slots and merging only shrinks that, so the round-0 mass
    // dominates forever.
    val prunedMass: Long =
      if (!pruning) 0L
      else framedOf(wordFreq.filter(col("freq") < pruneBelow))
        .select(coalesce(sum(col("freq") * (size(symsOf) - 1).cast("long")), lit(0L)))
        .head().getLong(0)

    val merges = Seq.newBuilder[Merge]
    var learned = List.empty[Merge] // rank order, for the prune fallback
    var round = 1
    var exhausted = false
    while (round <= numMerges && !exhausted) {
      // Adjacent symbol pairs of every vocab word, weighted by word
      // frequency.
      val syms = symsOf
      val pairs = vocab
        .select(col("freq"),
          explode(zip_with(
            slice(syms, lit(1), size(syms) - 1),
            slice(syms, lit(2), size(syms) - 1),
            (x, y) => struct(x.as("x"), y.as("y")))).as("p"))
        .groupBy(col("p.x").as("x"), col("p.y").as("y"))
        .agg(sum("freq").as("cnt"))
      // Top TWO when pruning (the margin certificate needs the
      // runner-up), top one otherwise.
      val top = pairs
        .orderBy(desc("cnt"), asc("x"), asc("y"))
        .limit(if (pruning) 2 else 1).collect()
      val certified = !pruning || (top.nonEmpty && {
        val cnt1 = top(0).getLong(2)
        val cnt2 = if (top.length > 1) top(1).getLong(2) else 0L
        cnt1 - cnt2 > prunedMass
      })
      if (pruning && (!certified || top.isEmpty)) {
        // Margin certificate failed (or the pruned vocabulary merged
        // out entirely): fold the pruned words back in -- re-framed
        // through the merges learned so far, which is exactly the
        // replayed per-round replace -- and redo THIS round exact.
        val restored = wordFreq.filter(col("freq") < pruneBelow)
          .select(concat(lit(Sep),
            concat_ws(Sep + Sep, bpeTokens(col("word"), learned, byteLevel)),
            lit(Sep)).as("w"), col("freq"))
        val prev = vocab
        vocab = vocab.union(restored).persist()
        vocab.count()
        prev.unpersist()
        pruning = false
      } else if (top.isEmpty) {
        // every word is a single symbol -- nothing left to merge
        exhausted = true
      } else {
        val (x, y, cnt) =
          (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        val m = Merge(round, x, y, cnt)
        merges += m
        learned = learned :+ m
        val prev = vocab
        val computed = vocab.withColumn("w",
          expr(s"replace(w, '$Sep$x$Sep$Sep$y$Sep', '$Sep$x$y$Sep')"))
        // Checkpoint rounds materialize eagerly through the checkpoint
        // itself -- persisting first would strand an extra cache entry
        // per checkpoint round that nothing ever unpersists.
        val next =
          if (round % checkpointEvery == 0) materialize(computed)
          else { val p = computed.persist(); p.count(); p }
        prev.unpersist()
        vocab = next
        round += 1
      }
    }
    vocab.unpersist()
    merges.result()
  }

  /** The learned merge table as a DataFrame —
    * (rank int, left, right, freq). */
  def mergesDf(spark: org.apache.spark.sql.SparkSession,
      merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.toDF("rank", "left", "right", "freq")
  }

  /** Tokenize `textCol` with a learned merge table: per document, the
    * full BPE token sequence (words in order, each word's tokens in
    * order) as `array<string>`. Map-side native expression
    * ([[graft.functions.BpeEncode]]) — no shuffle, no UDF. */
  def bpeTokens(text: Column, merges: Seq[Merge],
      byteLevel: Boolean = false): Column =
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.BpeEncode(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(text),
        merges.sortBy(_.rank).map(m => (m.left, m.right)), byteLevel))

  /** Per-document token stats under a learned merge table:
    * (id, n_tokens, n_unique_tokens, tokens_str). In byte mode the
    * tokens are the hex byte-symbol strings the merges name. */
  def tokenize(df: DataFrame, textCol: String, idCol: String,
      merges: Seq[Merge], byteLevel: Boolean = false): DataFrame = {
    val toks = bpeTokens(col(textCol), merges, byteLevel)
    df.select(col(idCol), toks.as("tokens"))
      .select(col(idCol),
        size(col("tokens")).cast("long").as("n_tokens"),
        size(array_distinct(col("tokens"))).cast("long").as("n_unique_tokens"),
        concat_ws(" ", col("tokens")).as("tokens_str"))
  }

  /** Persist a learned merge table as JSON — the tokenizer artifact a
    * pipeline trains once and ships with every job that must tokenize
    * consistently (same contract as
    * [[graft.validation.RuleFiles.export]] for rules). Rank order is
    * preserved; [[loadMerges]] round-trips exactly. */
  def saveMerges(merges: Seq[Merge], filePath: String): Unit = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = mapper.createArrayNode()
    merges.sortBy(_.rank).foreach { m =>
      val o = mapper.createObjectNode()
      o.put("rank", m.rank); o.put("left", m.left)
      o.put("right", m.right); o.put("freq", m.freq)
      arr.add(o)
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(filePath),
      mapper.writerWithDefaultPrettyPrinter().writeValueAsString(arr))
    ()
  }

  /** Load a merge table saved by [[saveMerges]]. Fails loudly on a
    * malformed file — a silently-empty merge table would tokenize
    * every word to characters. */
  def loadMerges(filePath: String): Seq[Merge] = {
    val path = java.nio.file.Paths.get(filePath)
    require(java.nio.file.Files.exists(path), s"File not found: $path")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = mapper.readTree(java.nio.file.Files.readString(path))
    require(root.isArray, s"$filePath: expected a JSON array of merges")
    import scala.jdk.CollectionConverters._
    val merges = root.elements().asScala.map { n =>
      require(n.hasNonNull("rank") && n.hasNonNull("left") && n.hasNonNull("right"),
        s"$filePath: merge entry missing rank/left/right: $n")
      Merge(n.get("rank").asInt(), n.get("left").asText(),
        n.get("right").asText(),
        if (n.hasNonNull("freq")) n.get("freq").asLong() else 0L)
    }.toSeq
    val ranks = merges.map(_.rank)
    require(ranks == ranks.sorted && ranks.distinct == ranks,
      s"$filePath: merge ranks must be strictly increasing: $ranks")
    merges
  }

  /** Context-window chunking over the REAL token sequence — the
    * learned-BPE upgrade of [[TextAnalysis.chunk]]'s whitespace
    * windows: sliding windows of `maxTokens` BPE tokens with
    * `overlap`, stride = maxTokens − overlap, final window short, same
    * chunk-count arithmetic (`ceil((n − max) / stride) + 1` past one
    * window). Output: (idCol, chunk_idx, n_tokens, chunk_text) with
    * chunk_text the space-joined token window — token space is what a
    * training pipeline feeds the model, and unlike character offsets
    * it is well-defined under subword tokenization.
    *
    * Pure map-side: tokenization is the [[bpeTokens]] expression and
    * the one Generate (explode of the per-doc window list) IS the
    * operator's output — no shuffle, no join, stream-safe. */
  def chunk(df: DataFrame, textCol: String, idCol: String,
      merges: Seq[Merge], maxTokens: Int = 32, overlap: Int = 8): DataFrame = {
    require(maxTokens >= 1, s"maxTokens must be >= 1: $maxTokens")
    require(overlap >= 0 && overlap < maxTokens,
      s"overlap must be in [0, maxTokens): $overlap")
    val stride = maxTokens - overlap
    val toks = bpeTokens(col(textCol), merges)
    val n = size(col("tokens"))
    val nChunks = when(n <= maxTokens, lit(1))
      .otherwise(ceil((n - maxTokens).cast("double") / stride).cast("int") + 1)
    df.select(col(idCol), toks.as("tokens"))
      .filter(size(col("tokens")) > 0)
      .select(col(idCol), col("tokens"),
        explode(transform(sequence(lit(0), nChunks - 1), k =>
          struct(k.cast("long").as("chunk_idx"),
            slice(col("tokens"), k * stride + 1, lit(maxTokens)).as("w")))).as("c"))
      .select(col(idCol),
        col("c.chunk_idx").as("chunk_idx"),
        size(col("c.w")).cast("long").as("n_tokens"),
        concat_ws(" ", col("c.w")).as("chunk_text"))
  }
}
