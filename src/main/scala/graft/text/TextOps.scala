package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Large-scale training-data text operators over the `documents` table
 * (doc_id, text, lang, source, n_chars). Everything here is built from
 * codegen'd Catalyst functions (no Scala UDFs in the hot path), designed
 * so the shuffle key is a small hash/signature — at 100 TB the wide text
 * column never shuffles except where semantically required.
 */
object TextOps {
  /** Exact dedup: hash-groupBy on md5(text); keeps the smallest doc_id
    * as the canonical representative. Only the 16-byte digest shuffles. */
  def dedupExact(docs: DataFrame): DataFrame =
    docs.select(md5(col("text")).as("text_md5"), col("doc_id"))
      .groupBy("text_md5")
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("dup_cnt"))

  /** Distinct character n-gram set of a text column (sorted for
    * determinism). Texts shorter than n have NO n-grams: the explicit
    * guard matters because Spark's sequence(1, 0) DESCENDS ([1, 0] —
    * step defaults to -1 when start > stop) where DuckDB's
    * generate_series(1, 0) is empty, so the unguarded transform
    * fabricated [text] for short docs and diverged from the q21
    * oracle. */
  def ngrams(c: Column, n: Int): Column =
    when(length(c) < n, typedLit(Array.empty[String])).otherwise(
      array_sort(array_distinct(transform(
        sequence(lit(1), length(c) - (n - 1)),
        i => c.substr(i, lit(n))))))

  /** Distinct rolling char-n-gram HASHES of a text column — the
    * scale shape for n-gram set ops: ONE O(chars) kernel pass
    * ([[charNgramHashes]]) where [[ngrams]]' per-window substr HOF
    * seeks O(window-start) chars per window — O(chars^2) per document.
    * Set semantics match the string variant up to ~2^-62 hash
    * collisions (false overlap only). */
  def ngramHashSet(c: Column, n: Int): Column =
    array_distinct(charNgramHashes(c, n))

  /** Whitespace tokens: nonempty chunks between single spaces — THE
    * token definition, shared by counts, shingles and the SQL oracles
    * (list_filter(string_split(...))); one source or parity breaks. */
  def tokens(c: Column): Column =
    filter(split(c, " ", -1), x => x =!= "")

  def tokenCount(c: Column): Column = size(tokens(c))

  /** BPE-ish pre-tokenizer (GPT-2-style split simplified to the subset
    * Java regex and RE2 interpret identically — no lookaround): runs of
    * letters, runs of digits, single punctuation marks. */
  final val BpePattern = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

  def bpeTokens(c: Column): Column =
    regexp_extract_all(c, lit(BpePattern), lit(0))

  def bpeTokenCount(c: Column): Column = size(bpeTokens(c)).cast("long")

  /** Token count under the LEARNED vocab (graft.text.Bpe fixture):
    * real merge-rank BPE in one codegen kernel call per row — the
    * counts that actually drive token budgets, vs the pre-tokenizer
    * upper bound above. */
  def bpeVocabTokenCount(c: Column): Column = graft.functions.Kernels.BpeTokenCount(c)

  private val stopwords = Map(
    "en" -> Seq(" the ", " and ", " of "),
    "de" -> Seq(" der ", " und ", " die "),
    "fr" -> Seq(" le ", " et ", " la "),
    "es" -> Seq(" el ", " y ", " de la "))

  /** Number of non-overlapping occurrences of `needle`, via
    * length-difference arithmetic (exact, engine-portable). */
  def occurrences(c: Column, needle: String): Column =
    ((length(c) - length(call_function("replace", c, lit(needle), lit("")))) / needle.length).cast("long")

  /** Heuristic language id: stopword-count argmax with fixed tie order
    * en > de > fr > es. Returns (scores..., guess). */
  def langScores(c: Column): Seq[(String, Column)] =
    stopwords.toSeq.sortBy(_._1).map { case (lang, words) =>
      lang -> words.map(w => occurrences(c, w)).reduce(_ + _)
    }

  def langGuess(c: Column): Column = {
    val scores = langScores(c).toMap
    val en = scores("en"); val de = scores("de"); val fr = scores("fr"); val es = scores("es")
    when(en >= de && en >= fr && en >= es, lit("en"))
      .when(de >= fr && de >= es, lit("de"))
      .when(fr >= es, lit("fr"))
      .otherwise(lit("es"))
  }

  /** Quality features: all exact integers (length, punctuation count,
    * stopword count, uppercase count) + a bucketed score. */
  def qualityColumns(c: Column): Seq[(String, Column)] = {
    val punct = occurrences(c, ".") + occurrences(c, ",") + occurrences(c, "!")
    val stop = stopwords.values.flatten.toSeq.distinct.sorted.map(w => occurrences(c, w)).reduce(_ + _)
    val chars = length(c).cast("long")
    val toks = tokenCount(c).cast("long")
    Seq(
      "chars" -> chars,
      "toks" -> toks,
      "punct" -> punct,
      "stop" -> stop,
      "q_bucket" -> when(chars < 64, lit(0))
        .when(stop * 20 >= toks, lit(3))
        .when(punct * 10 >= toks, lit(2))
        .otherwise(lit(1)))
  }

  /** Model-based quality scoring (the fastText-class trained keep/drop
    * filter; [[qualityColumns]] is the heuristic stand-in): integer
    * margin of a trained fixed-point linear classifier over hashed
    * token features (graft.text.QualityModel fixture), keep = margin
    * >= 0. Map-only — one codegen kernel call per row, the text column
    * never leaves the scan, no exchange anywhere in the plan; the
    * DuckDB oracle (q63) replays the dot product bit-exactly from the
    * same weights. */
  def qualityModelScore(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      tokenCount(col("text")).cast("long").as("toks"),
      qualityScore(col("text")).as("score"))
      .withColumn("keep", when(col("score") >= 0, lit(1)).otherwise(lit(0)))

  /** Trained integer quality margin of one text column value. */
  def qualityScore(c: Column): Column = graft.functions.Kernels.QualityScore(c)

  /** Boilerplate-line removal (the C4/RefinedWeb line-dedup rule: drop
    * every line that repeats >= minCount times across the corpus —
    * navigation, cookie banners, footers).
    *
    * Scale shape: stats pass shuffles ONLY 8-byte line hashes with
    * map-side combine (the text never leaves the scan); the hot set is
    * bounded by total_lines/minCount and pulled to the driver under a
    * LOUD cap (default 2^20 = 8 MB, the q61 bound discipline — raise
    * minCount, not the cap), then the rewrite pass is map-only: one
    * kernel call per doc, binary search per line. Two corpus scans by
    * nature (the hot set exists only after the stats pass — the same
    * two-pass shape as C4 itself).
    *
    * The DuckDB oracle (q66) replays split semantics, per-line h64
    * fold, threshold and rewrite bit-exactly. */
  def boilerplateLines(pages: DataFrame, minCount: Long, hotCap: Int = 1 << 20): DataFrame = {
    val hot = pages.select(explode(lineHashes(col("page"))).as("h"))
      .groupBy("h").agg(count(lit(1)).as("c"))
      .filter(col("c") >= minCount).select("h")
      .limit(hotCap + 1).collect().map(_.getLong(0))
    require(hot.length <= hotCap,
      s"boilerplateLines: hot-line set exceeds cap $hotCap — raise minCount")
    java.util.Arrays.sort(hot)
    pages.select(col("doc_id"), dropHotLines(col("page"), hot).as("st"))
      .select(col("doc_id"), col("st.clean_text").as("clean_text"),
        col("st.n_lines").as("n_lines"), col("st.n_kept").as("n_kept"))
  }

  /** Per-line h64 hashes of one text column value. */
  def lineHashes(c: Column): Column = graft.functions.Kernels.LineHashes(c)

  /** One-pass hot-line rewrite of one text column value. */
  def dropHotLines(c: Column, hot: Array[Long]): Column = graft.functions.Kernels.DropHotLines(c, hot)

  /** Bigram-LM perplexity scoring (the CCNet/KenLM-style fluency
    * filter; [[unigramRarity]] is the corpus-statistics stand-in):
    * integer total and per-bigram average cost under the trained
    * graft.text.LmModel fixture, plus the CCNet head/middle/tail
    * bucket from the fixture's training-corpus tercile boundaries
    * (docs with no bigram can't be assessed and land in the tail).
    * Map-only — one codegen kernel call per row, the text column never
    * leaves the scan, no exchange anywhere in the plan; the DuckDB
    * oracle (q65) replays cost table, pair-bucket arithmetic and
    * integer division bit-exactly from the same fixture. */
  def lmScore(docs: DataFrame): DataFrame = {
    import graft.text.{LmModel => M}
    docs.select(col("doc_id"),
        greatest(tokenCount(col("text")).cast("long") - 1L, lit(0L)).as("n_big"),
        lmCost(col("text")).as("cost"))
      .withColumn("avg_cost",
        when(col("n_big") > 0, expr("cost div n_big")).otherwise(lit(0L)))
      .withColumn("ppl_bucket",
        when(col("n_big") === 0, lit(2))
          .when(col("avg_cost") <= M.headMax, lit(0))
          .when(col("avg_cost") <= M.midMax, lit(1))
          .otherwise(lit(2)))
  }

  /** Trained integer bigram-LM cost of one text column value. */
  def lmCost(c: Column): Column = graft.functions.Kernels.LmCost(c)

  /** Within-document repetition metrics (the Gopher/MassiveText-style
    * repetition signals, as integer COUNTS so the DuckDB oracle is
    * bit-exact; callers derive the published ratios): token total and
    * distinct, 2-gram total / most-frequent-2-gram count / distinct —
    * high top2/grams2 or low utoks/toks flags boilerplate and
    * degenerate repetition.
    *
    * Scale shape: ONE scan/decode pass over the text column — the
    * 1-gram quantities ride the shingle explode as two extra 8-byte
    * columns instead of a second corpus scan. The only shuffle carries
    * (doc_id, h64, toks, utoks) with map-side combine (the q48
    * pattern); the text column never leaves the scan; per-doc work is
    * the one-pass codegen shingle kernel. */
  def repetitionMetrics(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        tokenCount(col("text")).cast("long").as("toks"),
        size(array_distinct(tokens(col("text")))).cast("long").as("utoks"),
        // outer: a doc with no 2-grams keeps one h=null row, whose
        // count(h)=0 group makes every downstream aggregate read 0 —
        // the former second scan + left-join + coalesce, for free
        explode_outer(tokenShingleHashes(col("text"), 2)).as("h"))
      .groupBy("doc_id", "h")
      .agg(count(col("h")).as("c"),
        min(col("toks")).as("toks"), min(col("utoks")).as("utoks"))
      .groupBy("doc_id")
      .agg(min(col("toks")).as("toks"), min(col("utoks")).as("utoks"),
        sum(col("c")).cast("long").as("grams2"),
        max(col("c")).cast("long").as("top2"),
        count(col("h")).as("ugrams2"))

  /** Keep-best-per-cluster selection: given duplicate-cluster labels
    * (doc_id, rep) and per-doc scores (doc_id, score LONG), mark
    * exactly one kept=1 row per cluster — the max-score member,
    * doc_id-ascending tie-break (the standard "fuzzy dedup with best
    * document retention" curation step; reference keeps the FIRST
    * occurrence — see datamaps dedup semantics — we keep the best).
    *
    * Scale shape: argmax via a map-side-combined struct-max aggregate,
    * NOT a per-rep window — a pathological million-doc cluster still
    * reduces tree-style instead of serializing its rows onto one task
    * for a sort. Every shuffled row is three 8-byte columns; the text
    * column never enters (callers compute scores map-side first). */
  def keepBestPerCluster(labels: DataFrame, scores: DataFrame): DataFrame = {
    // LEFT join: an unscored member must stay in its cluster (with a
    // floor score, losing the argmax unless the whole cluster is
    // unscored) — an inner join silently deleted it, and a fully
    // unscored cluster lost its 'exactly one kept=1' guarantee.
    // Eager checkpoint: j feeds BOTH the argmax aggregate and the final
    // re-attach join, two subtrees exchange reuse does not unify (the
    // plan showed the full labels+scores chain — two corpus scans and
    // the score derivation — executed TWICE); the materialized rows are
    // three 8-byte columns, the same footprint chunkedPrefixSum spools.
    val j = labels.join(scores, Seq("doc_id"), "left").localCheckpoint(true)
    val s = coalesce(col("score"), lit(Long.MinValue))
    val best = j.groupBy("rep")
      .agg(max(struct(s.as("score"), (-col("doc_id")).as("nid"))).as("b"))
    j.join(best, Seq("rep"))
      .select(col("doc_id"), col("rep"), col("score"),
        when(s === col("b.score") && col("doc_id") === -col("b.nid"),
          lit(1L)).otherwise(lit(0L)).as("kept"))
  }

  // ---- PII detection / redaction ----------------------------------
  // Public-knowledge regex shapes written to the subset Java regex and
  // RE2 (DuckDB) interpret identically: no lookaround, no backrefs,
  // ASCII \d, leftmost-first greedy matching in both engines. A
  // leading \b cannot precede an optional '(' (two non-word chars form
  // no boundary), hence the phone alternation.
  final val PiiEmail = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  final val PiiIpv4 =
    "\\b(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])" +
      "(?:\\.(?:25[0-5]|2[0-4][0-9]|1[0-9][0-9]|[1-9]?[0-9])){3}\\b"
  final val PiiPhone = "(?:\\(\\d{3}\\)|\\b\\d{3})[-. ]\\d{3}[-. ]\\d{4}\\b"
  final val PiiId = "\\b\\d{3}-\\d{2}-\\d{4}\\b"

  /** (name, pattern, replacement) in REDACTION ORDER — the single
    * source for both the Spark columns and the DuckDB oracle SQL.
    * Counts are computed per type on the RAW text (order-independent);
    * redaction chains in this order on both sides. Id precedes phone so
    * the more specific shape wins where both could bite. */
  final val PiiTypes: Seq[(String, String, String)] = Seq(
    ("email", PiiEmail, "<EMAIL>"),
    ("id", PiiId, "<ID>"),
    ("phone", PiiPhone, "<PHONE>"),
    ("ipv4", PiiIpv4, "<IP>"))

  /** Per-type PII hit counts + the redacted text. Map-only column
    * expressions — the text column never shuffles; at 100 TB this is a
    * pure scan→project pipeline (plan-asserted exchange-free). */
  def piiColumns(c: Column): Seq[(String, Column)] = {
    val counts = PiiTypes.map { case (n, pat, _) =>
      s"n_$n" -> size(regexp_extract_all(c, lit(pat), lit(0))).cast("long")
    }
    val red = PiiTypes.foldLeft(c) { case (acc, (_, pat, rep)) =>
      regexp_replace(acc, pat, rep)
    }
    counts :+ ("red_text" -> red)
  }

  // ---- URL extraction / domain stats ------------------------------
  // Same Java-regex ∩ RE2 discipline as the PII shapes: no lookaround,
  // explicit ASCII classes (no \s — its definition drifts between
  // engines), greedy char-class runs only.
  final val UrlPattern =
    "https?://[A-Za-z0-9.-]+(?::[0-9]+)?(?:/[^ \\t\\r\\n]*)?"
  final val UrlHostPattern = "https?://([A-Za-z0-9.-]+)"

  /** Per-doc URL count + lowercased host of the FIRST URL ('' when
    * none) — the inputs to RefinedWeb-style URL filtering and
    * domain-mix accounting. Map-only column expressions; the text
    * column never shuffles. Domain rollups groupBy the extracted host
    * (short strings, map-side combine), never the text. */
  def urlColumns(c: Column): Seq[(String, Column)] = Seq(
    "n_urls" -> size(regexp_extract_all(c, lit(UrlPattern), lit(0))).cast("long"),
    "host" -> lower(regexp_extract(c, UrlHostPattern, 1)))

  /** Document fingerprint: polynomial rolling hash over the sanitized
    * character stream, mod 2^31-1 — computable identically in any
    * engine with a list fold. Sanitize to [a-z ] so ascii() semantics
    * agree across engines. */
  def fingerprint(c: Column): Column = {
    val clean = regexp_replace(c, "[^a-z ]", "")
    val chars = split(clean, "", -1)
    // fold with the first char's code as the seed (list_reduce-compatible)
    when(length(clean) === 0, lit(0L)).otherwise(
      aggregate(
        slice(chars, lit(2), greatest(size(chars) - 1, lit(0))),
        ascii(element_at(chars, 1)).cast("long"),
        (h, ch) => (h * 31 + ascii(ch)) % 2147483647L))
  }

  /** Salient terms per document — keyword extraction for corpus
    * curation: top-`n` terms by in-document frequency among terms whose
    * corpus document-frequency is <= `maxDf` (ubiquitous terms are
    * stopwords by construction; no hand-curated list). Integer-only
    * scoring, so the DuckDB oracle (q48) is bit-exact — tf*idf with a
    * float log would diverge in the last ulp across engines.
    *
    * Scale shape: tokenize map-side; tf is a hash aggregation keyed
    * (doc, term); df a hash aggregation keyed term with a partial
    * distinct; the df join is term-cardinality-sized (AQE broadcasts
    * it — vocabulary, not corpus); the top-n window partitions by doc
    * (millions of small groups, no hot key). The wide text column never
    * shuffles — only (doc_id, term) rows do. */
  def salientTerms(docs: DataFrame, n: Int, maxDf: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select(col("doc_id"),
      explode(split(regexp_replace(lower(col("text")), "[^a-z ]", " "), " +")).as("term"))
      .filter(col("term") =!= "")
    // tf is CHECKPOINTED: it feeds both the df derivation and the join's
    // probe side, and the planner duplicates the subtree rather than
    // reusing the exchange (the two consumers prune different columns,
    // so the canonicalized exchanges differ — the physical plan showed
    // TWO full scan+tokenize+aggregate passes). The materialized rows
    // are (doc_id, term, tf) — token-vocabulary sized, never the text.
    val tf = toks.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    // df derives from tf — its rows are already one per (doc, term) —
    // so the text scan + tokenize executes ONCE
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf)
    val w = Window.partitionBy(col("doc_id")).orderBy(col("tf").desc, col("term").asc)
    tf.join(dfreq, "term")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
      .select(col("doc_id"), col("term"), col("tf"), col("df"), col("rn"))
  }

  /** Unigram rarity score — the CCNet-class "how surprising is this
    * document under the corpus unigram distribution" signal (the
    * integer-exact stand-in for LM-perplexity filtering): per doc,
    * sum over token instances of `min(T div cnt(token), cap)` where
    * `cnt` is the token's corpus occurrence count and `T` the corpus
    * token total. High scores = rare-token-dense docs (specialist or
    * noise), low = boilerplate. The cap (default 2^20) saturates
    * hapax tokens AND bounds the arithmetic: score <= toks * cap, so
    * every intermediate stays < 2^52 for docs to ~4G tokens — the
    * identical expression runs under Spark ANSI and in DuckDB.
    *
    * Scale shape: ONE tokenize pass — `cnt` derives from the tf
    * aggregate (same rows, exchange reused — the q48 idiom) and T from
    * `cnt`; the tf-side join is vocabulary-sized; the 1-row total
    * broadcasts via crossJoin. Only (doc_id, token, count) rows ever
    * shuffle, never the text column. Zero-token docs keep a row with
    * toks = rarity = 0. */
  def unigramRarity(docs: DataFrame, cap: Long = 1L << 20): DataFrame = {
    val tf = docs.select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("n"))
    val cnt = tf.groupBy("tok").agg(sum(col("n")).as("c"))
    val total = cnt.agg(sum(col("c")).as("t"))
    val sc = tf.join(cnt, "tok").crossJoin(broadcast(total))
      .groupBy("doc_id").agg(
        sum(col("n")).as("toks"),
        sum(col("n") * least(call_function("div", col("t"), col("c")), lit(cap))).as("rarity"))
    docs.select(col("doc_id")).join(sc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("toks"), lit(0L)).as("toks"),
        coalesce(col("rarity"), lit(0L)).as("rarity"))
  }

  /** Token `n`-gram shingles of a text column: whitespace tokens,
    * sliding windows of n, re-joined with single spaces — the unit of
    * benchmark-contamination matching. ONE codegen kernel call per row
    * (tokenize once, emit all windows); the earlier transform/slice
    * HOF inlined the split into every window lambda — O(tokens^2)
    * character work per doc, fatal at web-document lengths. */
  def tokenShingles(c: Column, n: Int): Column = graft.functions.Kernels.TokenShingles(c, n)

  /** 62-bit hashes of the token `n`-gram shingles — the 100 TB
    * contamination keys: the shingle strings never materialize and the
    * join/broadcast carries 8-byte Longs. Same h64 = (poly31<<31)|poly37
    * packing as PortableHash.tokenHashSql, so the DuckDB oracle
    * reproduces every value exactly. */
  def tokenShingleHashes(c: Column, n: Int): Column =
    graft.functions.Kernels.TokenShingleHashes(c, n)

  /** Rolling character-`n`-gram hashes (one O(chars) pass per doc) —
    * seeds for exact-substring matching. */
  def charNgramHashes(c: Column, n: Int): Column = graft.functions.Kernels.CharNgramHashes(c, n)

  /** Benchmark decontamination: flag documents sharing any token
    * `n`-gram with the probe corpus (eval/test sets) — the standard
    * guard against train/test leakage. Returns one row per CONTAMINATED
    * document: (doc_id, hits = matching shingle occurrences,
    * distinct_hits = distinct matching shingles); clean docs are absent
    * (callers anti-join to keep them).
    *
    * Scale shape: the probe shingle set is eval-sized — tiny next to
    * the corpus — so the match is a broadcast semi-ish join; the corpus
    * explodes to (doc_id, shingle_hash) rows map-side and aggregates
    * back by doc. The wide text column never shuffles, and the keys are
    * the 8-byte [[tokenShingleHashes]] (the strings never materialize).
    * Hash collisions (~2^-62/pair) can only ADD a false hit — the safe
    * direction for a decontamination filter — and the oracle hashes
    * identically, so verification is exact. */
  def contamination(docs: DataFrame, probes: DataFrame, n: Int): DataFrame =
    contaminationBy(docs, probes, tokenShingleHashes(_, n))

  /** Exact-substring decontamination — the complement of token-shingle
    * [[contamination]]: flag corpus documents sharing any `n`-CHARACTER
    * exact substring with the probe set. Catches reformatted
    * contamination that re-tokenizes differently (the GPT-3/Pile-style
    * long-common-substring check); a doc shares a >=n-char substring
    * with a probe iff it shares one of its length-n character windows.
    * Output matches [[contamination]]: (doc_id, hits, distinct_hits).
    *
    * Same 100 TB shape: probe window-hashes are eval-sized and
    * broadcast; the corpus emits rolling [[charNgramHashes]] map-side
    * (one O(chars) pass per doc — never the O(chars * n) of
    * materializing each window) and only (doc_id, hash) rows aggregate.
    * Collisions can only add a false hit (safe direction); the oracle
    * hashes identically. */
  def substringContamination(docs: DataFrame, probes: DataFrame, n: Int): DataFrame =
    contaminationBy(docs, probes, charNgramHashes(_, n))

  /** The one decontamination body: `hashes` maps a text column to its
    * array of Long keys; the distinct probe keys broadcast, and matching
    * corpus keys aggregate per doc to (doc_id, hits, distinct_hits). */
  private def contaminationBy(docs: DataFrame, probes: DataFrame,
                              hashes: Column => Column): DataFrame = {
    val docH = docs.select(col("doc_id"), explode(hashes(col("text"))).as("h"))
    val probeH = probes.select(explode(hashes(col("text"))).as("h")).distinct()
    docH.join(broadcast(probeH), "h")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("hits"), countDistinct(col("h")).as("distinct_hits"))
  }

  /** Intra-corpus duplicate-SPAN detection (Lee et al.-style "dedup the
    * corpus against itself at >= n-char granularity"): every pair of
    * documents sharing at least one exact n-character substring, with
    * the count of distinct shared windows — the standard training-data
    * curation step that q50 (corpus-vs-probe) does not cover. Returns
    * (doc_a, doc_b, shared_windows) with doc_a < doc_b; feed the pairs
    * to [[duplicateSpanClusters]] for keep-one semantics.
    *
    * Scale shape (corpus x corpus, so every stage must be bounded):
    *  1. ONE text pass: the windowed projection — rolling
    *     [[charNgramHashes]] plus each window's bytes — spools to a
    *     localCheckpoint map-side; nothing corpus-sized shuffles.
    *  2. Per-hash bucket stats from the projection (countDistinct docs
    *     per hash — its partial-distinct stage moves only 16-byte
    *     (wh, doc_id) pairs); only collided hashes (bcnt >= 2)
    *     survive — the duplicated-window vocabulary, candidate-sized.
    *  3. EXACT verify without shuffling text: broadcast-filter the
    *     projection to the collided-hash set — the only rows that carry
    *     text bytes onto a shuffle are candidate-sized n-char snippets.
    *     (62-bit hashes collide ~2^-62/pair, but at 10^12 windows the
    *     birthday count is material, and a false positive here REMOVES
    *     a good document — the unsafe direction — so pairs are
    *     verified on the actual bytes, not the hash.)
    *  4. Frequency-capped pair expansion (the cappedCandidatePairs
    *     pattern): buckets <= cap emit all pairs, hotter buckets emit
    *     star pairs to the min doc PER (hash, verified-bytes) group — a
    *     boilerplate header shared by a million docs can't go
    *     quadratic, every star edge passes the byte verify by
    *     construction, and connectivity (hence cluster dedup
    *     semantics) is preserved even when a colliding window hides in
    *     a hot bucket.
    * The DuckDB oracle (q51) replicates hash, cap, star and verify
    * exactly — same portable arithmetic as q50.
    *
    * Single scan: the corpus text column is read and window-hashed
    * exactly ONCE — the windowed projection (doc_id, wh, snip) spools
    * to a localCheckpoint (map-side, nothing extra shuffles) and funds
    * both the bucket stats and the byte verify, at ~(16+n) bytes per
    * window of local storage (PlanSpec pins the one parquet scan). */
  def duplicateSpans(docs: DataFrame, n: Int, cap: Int = 64): DataFrame =
    duplicateSpansImpl(docs, n, cap, checkpoint = true)

  /** The one-corpus-pass windowed projection: every n-char window's
    * 62-bit rolling hash plus its bytes, from the single-pass codegen
    * kernel (a posexplode + per-window substring() would seek O(w)
    * chars per window — quadratic per document). NOT distinct (distinct
    * would shuffle the full projection; consumers dedupe at candidate
    * size). */
  private[graft] def duplicateSpansProjection(docs: DataFrame, n: Int): DataFrame =
    graft.ops.ReadBalance.fanOut(docs.select(col("doc_id"), col("text"))).select(col("doc_id"),
        explode(graft.functions.Kernels.CharNgramSnips(col("text"), n)).as("ws"))
      .select(col("doc_id"), col("ws.wh").as("wh"), col("ws.snip").as("snip"))

  /** checkpoint=false keeps the whole lineage in ONE plan so PlanSpec
    * can assert the shuffle shape (production always checkpoints: the
    * windowed projection / collided-vocabulary / verified-member sets
    * each feed multiple consumers, and the corpus window pass must run
    * once, not 4x). */
  private[graft] def duplicateSpansImpl(docs: DataFrame, n: Int, cap: Int,
                                        checkpoint: Boolean): DataFrame = {
    def ckpt(df: DataFrame): DataFrame = if (checkpoint) df.localCheckpoint(true) else df
    // Bucket stats move only distinct (wh, doc_id) pairs (countDistinct's
    // partial-distinct stage), and the snippet set dedupes AFTER the
    // broadcast collided-hash filter, at candidate size. DISTINCT (not a
    // min-collapse) on snippets: a doc holding two same-hash
    // different-byte windows must keep BOTH — the collapsed one could be
    // the bytes another doc genuinely shares. bcnt rides the broadcast
    // filter join itself (it is functionally determined by wh, so
    // distinct over (doc_id, wh, snip, bcnt) keeps exactly the rows
    // distinct(doc_id, wh, snip) would).
    val proj = ckpt(duplicateSpansProjection(docs, n))
    val bs = proj.groupBy("wh")
      .agg(countDistinct(col("doc_id")).as("bcnt"))
      .filter(col("bcnt") >= 2)
    val c = ckpt(proj.join(broadcast(bs), "wh")
      .select(col("doc_id"), col("wh"), col("snip"), col("bcnt"))
      .distinct())
    val small = c.filter(col("bcnt") <= cap)
    val allPairs = small.as("a").join(small.as("b"),
      col("a.wh") === col("b.wh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.wh").as("wh"),
        col("a.doc_id").as("doc_a"), col("a.snip").as("snip_a"),
        col("b.doc_id").as("doc_b"), col("b.snip").as("snip_b"))
    // star per (wh, VERIFIED bytes), never per wh alone: a per-hash
    // bmin center whose window merely COLLIDES with the bytes the rest
    // of the bucket shares would fail the byte verify on every star
    // edge and silently drop the bucket's true pairs — the star-pair-
    // truncation failure class the image-dedup banding bans. Grouping
    // the (already-attached) snippets costs nothing and makes every
    // star edge verify by construction. Collision-free inputs produce
    // the identical pair set (one snip per hot hash -> center == bmin).
    val hot = c.filter(col("bcnt") > cap)
    val hotMin = hot.groupBy(col("wh"), col("snip"))
      .agg(min(col("doc_id")).as("doc_a"))
    val starPairs = hot
      .join(hotMin, Seq("wh", "snip"))
      .filter(col("doc_id") =!= col("doc_a"))
      .select(col("wh"), col("doc_a"), col("snip").as("snip_a"),
        col("doc_id").as("doc_b"), col("snip").as("snip_b"))
    allPairs.unionByName(starPairs.select(allPairs.columns.map(col).toSeq: _*))
      .filter(col("snip_a") === col("snip_b"))
      .groupBy("doc_a", "doc_b")
      .agg(countDistinct(col("wh")).as("shared_windows"))
  }

  /** Keep-one clustering over [[duplicateSpans]]: connected components
    * of the pair graph restricted to pairs sharing >= minShared
    * verified windows; every doc gets (doc_id, rep) with rep = the
    * component minimum (singletons map to themselves) — "keep one per
    * span-duplicate cluster" is filter(doc_id === rep). */
  def duplicateSpanClusters(docs: DataFrame, n: Int, cap: Int = 64,
                            minShared: Long = 1L): DataFrame = {
    val pairs = duplicateSpans(docs, n, cap)
      .filter(col("shared_windows") >= minShared)
      .select(col("doc_a").as("a"), col("doc_b").as("b"))
    graft.ops.Components.labelAll(docs, pairs, "doc_id")
  }

  // ---------- near-dup signatures (portable hashes: the same integer
  // arithmetic is generated as DuckDB SQL by PortableHash, so these get
  // full SQL oracles; the Spark side runs as one codegen'd kernel call
  // per row instead of interpreted HOFs) ----

  /** THE batch MinHash-LSH geometry (q28/q42) — single source shared
    * with the persisted incremental state (TextDedupState), whose
    * boundary-vs-batch equivalence silently breaks if these drift. */
  final val LshShingle = 5
  final val LshBands = 4
  final val LshRows = 4
  final val LshCap = 64

  /** Eligibility for LSH banding: enough sanitized chars for one
    * shingle (the SQL oracle filters identically). */
  def lshEligible(text: Column): Column =
    length(regexp_replace(text, "[^a-z ]", "")) >= LshShingle

  /** Fused minhash + band keys in one kernel call per row (the shape
    * to explode for the LSH self-join). */
  def minhashBandKeys(c: Column, shingle: Int, bands: Int, rows: Int): Column =
    graft.functions.Kernels.MinhashBands(c, shingle, bands, rows)

  /** 62-bit SimHash over whitespace tokens of the sanitized text
    * (token hash = two packed 31-bit polynomial hashes; see
    * PortableHash.simhash62). */
  def simhash64(c: Column): Column =
    graft.functions.Kernels.Simhash(c)

  /** Candidate pairs from exploded (doc_id, band_key) rows with a
    * hot-bucket cap — the 100 TB guard: a cluster of near-identical
    * documents lands in one band bucket, and an uncapped self-join goes
    * quadratic in the cluster size. Buckets with <= cap members emit
    * all pairs; larger buckets emit star pairs to the bucket's min
    * doc_id (O(bucket) instead of O(bucket^2)), which preserves
    * connected-component dedup semantics (every member still links to
    * the representative). Deterministic, so the SQL oracle reproduces
    * it exactly. `hold` registers the collided-member checkpoint
    * ([[graft.ops.Checkpoint.holding]]); by default the ContextCleaner
    * reclaims it. */
  def cappedCandidatePairs(bands: DataFrame, keyCol: String, cap: Int,
                           hold: DataFrame => DataFrame = identity): DataFrame = {
    // Per-bucket stats via hash aggregation (map-side combine), NOT a
    // window: a window sorts the ENTIRE band table, but singleton
    // buckets — the overwhelming majority under selective keys — can't
    // produce pairs, so only collided buckets (bcnt >= 2) rejoin. When
    // that stat set is small AQE broadcasts it and the band table never
    // shuffles at all; under heavy collision it degrades to the same
    // keyed shuffle the window needed anyway.
    val bstats = bands.groupBy(col(keyCol))
      .agg(count(lit(1)).as("bcnt"), min(col("doc_id")).as("bmin"))
      .filter(col("bcnt") >= 2)
    // eager checkpoint: collided members only (candidate-sized). The
    // self-join's two sides and the star branch would otherwise EACH
    // re-evaluate the upstream band computation — for minhash callers
    // that is the fused signature kernel over every document, run 3x
    val stats = hold(bands.join(bstats, Seq(keyCol)).localCheckpoint(true))
    val small = stats.filter(col("bcnt") <= cap)
    val allPairs = small.as("a").join(small.as("b"),
      col(s"a.$keyCol") === col(s"b.$keyCol") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val starPairs = stats.filter(col("bcnt") > cap && col("doc_id") =!= col("bmin"))
      .select(col("bmin").as("doc_a"), col("doc_id").as("doc_b"))
    allPairs.unionByName(starPairs).distinct()
  }

  /** Hamming distance between two 64-bit signatures. */
  def hamming64(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b)).cast("long")

  /** Portable deterministic sampling hash over an integer id: every
    * intermediate stays < 2^52, so the identical expression runs
    * overflow-free under Spark ANSI and in DuckDB (single source for
    * the q43 oracle). NOT a crypto hash — a Knuth-style multiplicative
    * mix that is plenty for unbiased sampling order. */
  def sampleHash(id: Column): Column =
    pmod(pmod(id, lit(1048573L)) * lit(2654435761L), lit(2147483647L))

  /** The same mix as [[sampleHash]] in DuckDB SQL. DuckDB's % keeps
    * the dividend's sign where Spark's pmod is non-negative, so each
    * reduction adds the modulus back before re-reducing — identical
    * text for id >= 0, and parity now holds for negative ids too. */
  def sampleHashSql(id: String): String =
    s"(((($id % 1048573) + 1048573) % 1048573) * 2654435761) % 2147483647"

  /** Greedy per-domain token-budget selection — data-mixture
    * construction ("take ~B tokens from each source/language"): order
    * each domain's rows by (`hashCol`, `tieCol`) and keep rows while
    * the domain's running token total has not yet reached `budget`
    * before the row (the row that crosses the line is kept — budgets
    * are floors, the standard greedy mixing semantics). Returns the
    * surviving input rows plus their running total as `cum`.
    *
    * Scale shape: the naive plan is one window per domain key, which
    * serializes every domain onto a single task — a hot domain at
    * 100 TB is THE straggler. Instead a distributed prefix sum:
    * `hashCol`'s range splits into `chunks` contiguous slices, every
    * (domain, chunk) cell cumsums locally in parallel, and the
    * cross-chunk offsets come from a domains×chunks-row aggregate
    * whose own window is trivially small and whose join back
    * broadcasts. Identical to the single-window result by construction
    * (chunking is monotone in the (hash, tie) order); pinned on a
    * 90%-hot domain by TokenBudgetSpec. Domain cardinality is
    * mixture-sized (languages/sources/buckets) — the offsets table is
    * |domains|×chunks rows, never corpus-sized. */
  def tokenBudgetMix(df: DataFrame, domainCol: String, tokensCol: String,
                     hashCol: String, tieCol: String, budget: Long,
                     chunks: Int = 32): DataFrame =
    chunkedPrefixSum(df, domainCol, tokensCol, hashCol, tieCol, chunks)
      .filter(col("cum") - col(tokensCol) < budget)

  /** Distributed per-domain running total: adds `cum` = sum of
    * `valueCol` over all rows at-or-before this one in (`hashCol`,
    * `tieCol`) order within the row's domain — equal to a plain
    * `sum over (partition by domain order by hash, tie)` window, but a
    * hot (or single global) domain never serializes onto one task: the
    * hash range splits into `chunks` MONOTONE slices (h div width —
    * never h % chunks, which would interleave the order), each
    * (domain, chunk) cell cumsums locally in parallel, and cross-chunk
    * offsets come from a |domains|×chunks-row broadcast aggregate.
    *
    * NULL contracts: rows with a NULL `hashCol` or `tieCol` are
    * EXCLUDED (their position in the order is engine-defined — the
    * as-of-join null-timestamp precedent); a NULL domain is a
    * legitimate group and keeps plain-window parity (the offsets join
    * is null-safe on the domain key). The input fans into the window
    * AND the offsets aggregate — two separate subtrees Spark will not
    * reuse — so the projected input is checkpointed once here, never
    * re-deriving an upstream scan/tokenize twice. */
  def chunkedPrefixSum(df: DataFrame, domainCol: String, valueCol: String,
                       hashCol: String, tieCol: String,
                       chunks: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(chunks > 0, "chunks must be positive")
    // sampleHash values live in [0, 2^31); any monotone slicing works
    val width = (2147483647L + chunks - 1) / chunks
    val t = df
      .filter(col(hashCol).isNotNull && col(tieCol).isNotNull)
      .withColumn("__chunk", call_function("div", col(hashCol), lit(width)))
      .localCheckpoint(true)
    val local = sum(col(valueCol)).over(
      Window.partitionBy(col(domainCol), col("__chunk"))
        .orderBy(col(hashCol).asc, col(tieCol).asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    val offs = t.groupBy(col(domainCol), col("__chunk"))
      .agg(sum(col(valueCol)).as("__ctot"))
      .withColumn("__off", coalesce(
        sum(col("__ctot")).over(
          Window.partitionBy(col(domainCol)).orderBy(col("__chunk").asc)
            .rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col(domainCol).as("__odom"), col("__chunk").as("__ochunk"), col("__off"))
    t.withColumn("__cum_local", local)
      .join(broadcast(offs),
        col(domainCol) <=> col("__odom") && col("__chunk") === col("__ochunk"))
      .withColumn("cum", col("__off") + col("__cum_local"))
      .drop("__chunk", "__cum_local", "__off", "__odom", "__ochunk")
  }

  /** Sequence-packing bookkeeping — the GPT-pretraining "concatenate
    * the corpus in deterministic order, chunk into fixed `seqLen`-token
    * training sequences" step: per doc (zero-token docs drop — they
    * occupy no sequence), the global token interval it occupies and
    * the first/last sequence ids it lands in. A doc whose interval
    * crosses a boundary is split across sequences (standard packing
    * with truncation at bin edges). Built on [[chunkedPrefixSum]] with
    * ONE global domain — exactly the hot-domain case the chunked form
    * exists for: the corpus-wide running total never serializes onto a
    * single window task. */
  def sequencePack(df: DataFrame, tokensCol: String, hashCol: String,
                   tieCol: String, seqLen: Long, chunks: Int = 32): DataFrame = {
    require(seqLen > 0, "seqLen must be positive")
    val t = df.filter(col(tokensCol) > 0).withColumn("__dom", lit(0))
    chunkedPrefixSum(t, "__dom", tokensCol, hashCol, tieCol, chunks)
      .withColumn("first_seq", call_function("div", col("cum") - col(tokensCol), lit(seqLen)))
      .withColumn("last_seq", call_function("div", col("cum") - 1, lit(seqLen)))
      .drop("__dom")
  }

  // ---- HTML boilerplate stripping ----------------------------------
  // Java-regex ∩ RE2 subset, the q53 discipline: no lookaround, no \s
  // (its character set drifts between engines — Java includes \x0B,
  // RE2 does not), explicit ASCII classes; (?is) flags and non-greedy
  // .*? parse identically in both.
  final val HtmlScriptPattern = "(?is)<script[^>]*>.*?</script>"
  final val HtmlStylePattern = "(?is)<style[^>]*>.*?</style>"
  final val HtmlTagPattern = "<[^>]*>"
  final val HtmlSpacePattern = "[ \\t\\r\\n]+"
  final val HtmlLinkPattern = "(?i)<a [^>]*href"

  /** Entity decode order matters: `&amp;` must come LAST or a literal
    * `&amp;lt;` in the source would double-decode to `<`. */
  final val HtmlEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
    "&copy;" -> "(c)", "&amp;" -> "&")

  /** Main-content extraction from raw HTML — the first step of every
    * web-curation pipeline (trafilatura-class goal, regex-grade
    * mechanics): drop script/style blocks, strip the remaining tags,
    * decode the common entities, collapse whitespace runs; plus the
    * integer signals quality filters threshold on (char count, link
    * count, script count, x1000 text-to-markup keep ratio). Map-only
    * column expressions — the HTML column never shuffles (PlanSpec
    * asserts the q60 plan is exchange-free). */
  def htmlColumns(c: Column): Seq[(String, Column)] = {
    val noBlocks = regexp_replace(
      regexp_replace(c, HtmlScriptPattern, " "), HtmlStylePattern, " ")
    val noTags = regexp_replace(noBlocks, HtmlTagPattern, " ")
    val decoded = HtmlEntities.foldLeft(noTags) { case (acc, (ent, rep)) =>
      call_function("replace", acc, lit(ent), lit(rep))
    }
    val main = trim(regexp_replace(decoded, HtmlSpacePattern, " "))
    Seq(
      "main_text" -> main,
      "n_chars" -> length(main).cast("long"),
      "n_links" -> size(regexp_extract_all(c, lit(HtmlLinkPattern), lit(0))).cast("long"),
      "n_scripts" -> size(regexp_extract_all(c, lit(HtmlScriptPattern), lit(0))).cast("long"),
      // zero-length guard: an empty html payload in a real crawl must
      // score 0, not throw ANSI Division-by-zero and kill the stage
      "keep_x1000" -> when(length(c) === 0, lit(0L)).otherwise(
        call_function("div", length(main).cast("long") * 1000L, length(c).cast("long"))))
  }

  /** Exact deterministic per-stratum cap: keep the `n` rows with the
    * smallest (hashCol, tieCol) per stratum — stratified downsampling
    * for training-data balancing ("at most n docs per language/source/
    * length bucket"). Skew-safe two-phase top-N: a naive window over
    * the stratum key serializes each stratum onto one partition (a hot
    * stratum at 100 TB is a straggler); instead phase 1 ranks within
    * (stratum, salt) sub-groups — no true top-n row can be eliminated,
    * since its salted sub-group holds at most n-1 smaller rows — and
    * phase 2 re-ranks the <= salts*n survivors per stratum. The salt is
    * any deterministic row function; it never affects the result set —
    * so it hashes BOTH sort keys: salting by tieCol alone re-created
    * the hot-stratum straggler whenever tieCol is coarse (a day
    * bucket), sending every tied row to one sub-group. Rows with fully
    * duplicate (hashCol, tieCol) pairs are interchangeable under the
    * cap — pass a unique tieCol (q43 uses doc_id) when the caller
    * needs payload-determinism, not just result-set determinism. */
  def stratifiedCap(df: DataFrame, stratumCol: String, hashCol: String,
                    tieCol: String, n: Int, salts: Int = 32): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ord = Seq(col(hashCol).asc, col(tieCol).asc)
    val pre = df
      .withColumn("__salt", pmod(xxhash64(col(hashCol), col(tieCol)), lit(salts)))
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(stratumCol), col("__salt")).orderBy(ord: _*)))
      .filter(col("__rn") <= n).drop("__salt", "__rn")
    pre
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(stratumCol)).orderBy(ord: _*)))
      .filter(col("__rn") <= n).drop("__rn")
  }
}
