package graft.text

import org.apache.spark.unsafe.types.UTF8String

/**
 * Learned-vocab BPE token counting (the real-pipeline upgrade of the
 * q41 regex splitter): applies a GPT-2-FORMAT merges file — rank-ordered
 * `a b` lines, classic Sennrich/GPT-2 greedy lowest-rank merging — so
 * token counts reflect an actual learned vocabulary, not just the
 * pre-tokenizer. Token budgets drive cost/mixing decisions; a 10-30%
 * count error changes them.
 *
 * The fixture (src/main/resources/graft/bpe_merges.txt) is learned from
 * the synthetic corpus by graft.tools.BpeTrain (deterministic
 * lexicographic tie-break); any GPT-2-format merges file drops in.
 *
 * Single-source oracle: [[dictSql]] generates DuckDB SQL that replays
 * the SAME ranked merges with statically-unrolled rounds — each round
 * applies the lowest-rank merge present via space-padded replace().
 * One replace() pass can miss an occurrence that shares a boundary
 * space with a replaced one, but the pair then still IS the lowest-rank
 * pair present (a merge can only create pairs learned LATER, i.e. of
 * higher rank), so the next round picks it again — merge-per-round
 * converges to the classic all-occurrences result within
 * (longest word - 1) rounds.
 */
object Bpe {
  /** rank-ordered merge pairs from the GPT-2-format fixture. */
  lazy val merges: Vector[(String, String)] = {
    val in = getClass.getResourceAsStream("/graft/bpe_merges.txt")
    require(in != null, "graft/bpe_merges.txt fixture missing from resources")
    try {
      scala.io.Source.fromInputStream(in, "UTF-8").getLines()
        .filter(l => l.nonEmpty && !l.startsWith("#"))
        .map { l =>
          val sp = l.indexOf(' ')
          require(sp > 0 && sp < l.length - 1, s"bad merges line: '$l'")
          (l.substring(0, sp), l.substring(sp + 1))
        }.toVector
    } finally in.close()
  }

  private lazy val ranks: java.util.HashMap[String, Integer] = {
    val m = new java.util.HashMap[String, Integer]()
    merges.zipWithIndex.foreach { case ((a, b), r) => m.put(a + " " + b, r) }
    m
  }

  /** classic BPE encode of one pre-token: start from characters, repeat
    * (find lowest-rank adjacent pair, merge all its occurrences
    * left-to-right) until no learned pair remains. */
  def encode(word: String): Vector[String] = {
    if (word.isEmpty) return Vector.empty
    // initial symbols are CODEPOINTS (a surrogate pair is one symbol),
    // matching DuckDB's string_split(word, '') in the oracle replay
    var syms = word.codePoints().toArray
      .map(cp => new String(Character.toChars(cp)))
    var i = 0
    var n = syms.length
    var continue = n >= 2
    while (continue) {
      var best = Int.MaxValue
      i = 0
      while (i < n - 1) {
        val r = ranks.get(syms(i) + " " + syms(i + 1))
        if (r != null && r < best) best = r
        i += 1
      }
      if (best == Int.MaxValue) continue = false
      else {
        val (a, b) = merges(best)
        val ab = a + b
        val out = new Array[String](n)
        var w = 0
        i = 0
        while (i < n) {
          if (i < n - 1 && syms(i) == a && syms(i + 1) == b) { out(w) = ab; i += 2 }
          else { out(w) = syms(i); i += 1 }
          w += 1
        }
        syms = out
        n = w
        continue = n >= 2
      }
    }
    syms.take(n).toVector
  }

  // per-executor memo: the token-count hot path sees the corpus
  // vocabulary over and over; bounded so an adversarial corpus of
  // unique words can't grow it without limit
  private val memo = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  private final val MemoCap = 1 << 16

  def wordTokenCount(w: String): Long = {
    val c = memo.get(w)
    if (c != null) c.longValue()
    else {
      val v = encode(w).length.toLong
      if (memo.size < MemoCap) memo.put(w, java.lang.Long.valueOf(v))
      v
    }
  }

  private def isAsciiLetter(c: Char): Boolean =
    (c >= 'a' && c <= 'z') || (c >= 'A' && c <= 'Z')
  private def isAsciiDigit(c: Char): Boolean = c >= '0' && c <= '9'
  // Java regex \s = [ \t\n\x0B\f\r]; RE2 (DuckDB) \s adds nothing on
  // the corpus side of this engine (ASCII whitespace only)
  private def isWs(c: Char): Boolean =
    c == ' ' || c == '\t' || c == '\n' || c == '\u000B' || c == '\f' || c == '\r'

  /** Learned-vocab token count of a document: pre-tokenize with the
    * SAME runs-of-letters / runs-of-digits / single-other rule as
    * TextOps.BpePattern (a char loop, not a per-row regex), then sum
    * per-word BPE lengths. One kernel call per row (the codegen'd
    * bpe_token_count kernel, graft.functions.Kernels). */
  def tokenCount(text: UTF8String): Long = {
    val s = text.toString
    val n = s.length
    var total = 0L
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (isAsciiLetter(c)) {
        val st = i
        while (i < n && isAsciiLetter(s.charAt(i))) i += 1
        total += wordTokenCount(s.substring(st, i))
      } else if (isAsciiDigit(c)) {
        val st = i
        while (i < n && isAsciiDigit(s.charAt(i))) i += 1
        total += wordTokenCount(s.substring(st, i))
      } else if (isWs(c)) i += 1
      else {
        // single non-alnum-non-space CODEPOINT (regex '.' semantics:
        // a surrogate pair is one pre-token, not two)
        val cp = s.codePointAt(i)
        val len = Character.charCount(cp)
        total += wordTokenCount(s.substring(i, i + len))
        i += len
      }
    }
    total
  }

  private def sqlQuote(s: String): String = s.replace("'", "''")

  /** DuckDB CTE chain computing word -> BPE token count for every
    * distinct pre-token of `documents`, replaying the fixture merges.
    * `rounds` must be >= longest pre-token length - 1 (each round
    * performs at least one merge while any applies); bpe_dict raises a
    * DuckDB error() naming the offending word if any merge still
    * applies after the last round, so an undersized `rounds` fails
    * loudly instead of silently overcounting. Produces CTEs:
    * bpe_m (the ranked merges) and bpe_dict(word, n). */
  def dictSqlCtes(rounds: Int): String = {
    val values = merges.zipWithIndex.map { case ((a, b), r) =>
      s"($r, ' ${sqlQuote(a)} ${sqlQuote(b)} ', ' ${sqlQuote(a + b)} ')"
    }.mkString(", ")
    val roundCtes = (1 to rounds).map { r =>
      val prev = s"r${r - 1}"
      s"r$r AS (SELECT word, coalesce((SELECT replace($prev.s, m.pat, m.rep) FROM bpe_m m " +
        s"WHERE contains($prev.s, m.pat) ORDER BY m.rank LIMIT 1), s) AS s FROM $prev)"
    }.mkString(", ")
    s"""bpe_m(rank, pat, rep) AS (VALUES $values),
       | bpe_w AS (SELECT DISTINCT unnest(regexp_extract_all(text, '${TextOps.BpePattern}')) AS word FROM documents),
       | r0 AS (SELECT word, ' ' || array_to_string(string_split(word, ''), ' ') || ' ' AS s FROM bpe_w),
       | $roundCtes,
       | bpe_dict AS (SELECT word,
       |   CASE WHEN EXISTS (SELECT 1 FROM bpe_m m WHERE contains(r$rounds.s, m.pat))
       |     THEN CAST(error('bpe_dict unconverged after $rounds rounds for word: ' || word) AS BIGINT)
       |     ELSE len(list_filter(string_split(trim(s), ' '), x -> x <> '')) END AS n
       |   FROM r$rounds)""".stripMargin.replace("\n", " ")
  }
}
