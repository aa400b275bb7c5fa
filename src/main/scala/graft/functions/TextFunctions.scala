package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis column functions for large-scale corpus pipelines:
  * tokenization, quality scoring, language ID, fingerprinting, shingling,
  * MinHash signatures. Everything here is built from codegen'd Catalyst
  * builtins (split / transform / aggregate / md5) — no Scala UDFs — so the
  * whole pipeline stays inside WholeStageCodegen and scales linearly over
  * a 100 TB corpus with zero shuffles until an explicit groupBy/join.
  *
  * Determinism note: md5 is used as the hash everywhere so results are
  * identical across engines, runs, and cluster layouts.
  */
object TextFunctions {

  /** Whitespace tokens of trimmed text (empty text → empty array). */
  def tokens(text: Column): Column =
    when(length(trim(text)) === 0, array().cast("array<string>"))
      .otherwise(split(trim(text), "\\s+"))

  /** Token count WITHOUT materializing the token array: a native
    * codegen'd byte-scan expression ([[TokenCount]]), semantically
    * identical to `size(tokens(text))` (spec-checked). */
  def tokenCount(text: Column): Column = {
    import org.apache.spark.sql.classic.GraftColumnShims
    GraftColumnShims.column(TokenCount(GraftColumnShims.expression(text)))
  }

  /** Fraction of tokens found in `stop` (lower-cased match). */
  def stopwordRatio(text: Column, stop: Seq[String]): Column = {
    val t = tokens(text)
    when(size(t) === 0, lit(0.0)).otherwise(
      size(filter(t, x => lower(x).isInCollection(stop))).cast("double") /
        size(t))
  }

  /** Mean token length: non-whitespace chars / token count. */
  def meanTokenLen(text: Column): Column = {
    val t = tokens(text)
    when(size(t) === 0, lit(0.0)).otherwise(
      length(regexp_replace(trim(text), "\\s+", "")).cast("double") / size(t))
  }

  /** BPE-ish pretokenization count: pieces under the GPT-2-style class
    * split — letter runs, digit runs, punctuation runs (the lookahead
    * clause of the original pattern is dropped to stay RE2-safe, the
    * [[PiiFunctions]] cross-engine contract). Whitespace separates but
    * never counts. Codegen'd `regexp_extract_all`, zero shuffle. */
  val bpePiecePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"
  def bpePieceCount(text: Column): Column =
    coalesce(size(regexp_extract_all(text, lit(bpePiecePattern), lit(0))),
      lit(0))

  /** Per-language stopword tables for the n-gram/stopword language-ID
    * heuristic (public-knowledge most-frequent words). */
  val langStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "a"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "une"),
    "de" -> Seq("der", "die", "und", "das", "nicht", "ist", "ein"),
    "es" -> Seq("el", "los", "y", "que", "en", "una", "por"))

  /** Language ID by stopword hit counting with a deterministic preference
    * order (first language with the max count wins; all-zero → "und"). */
  def langId(text: Column): Column = {
    val t = tokens(text)
    val hits = langStopwords.map { case (lang, words) =>
      lang -> size(filter(t, x => lower(x).isInCollection(words)))
    }
    val maxHits = greatest(hits.map(_._2): _*)
    hits.foldRight(lit("und"): Column) { case ((lang, h), acc) =>
      when(h === maxHits && h > 0, lit(lang)).otherwise(acc)
    }
    // foldRight keeps the declared order as the tie-break preference
  }

  /** Document fingerprint: stable 16-hex-digit digest prefix. */
  def fingerprint(text: Column): Column = substring(md5(text), 1, 16)

  /** HTML → text extraction (the WET-style boilerplate strip a web
    * corpus runs before any quality/dedup stage): drop script/style
    * elements with their content, drop all remaining tags, decode the
    * six common entities, collapse whitespace. Pure chained
    * `regexp_replace` — codegen'd, zero shuffle. The patterns avoid
    * backreferences and use RE2-safe syntax, so a SQL mirror applies
    * the IDENTICAL chain; malformed markup degrades the same way on
    * both sides by construction. */
  def stripHtml(html: Column): Column = {
    val noScript = regexp_replace(html, "(?s)<script[^>]*>.*?</script>", " ")
    val noStyle = regexp_replace(noScript, "(?s)<style[^>]*>.*?</style>", " ")
    val noTags = regexp_replace(noStyle, "<[^>]+>", " ")
    val ent = Seq("&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
      "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")
      .foldLeft(noTags) { case (c, (from, to)) =>
        // entity names contain no regex metacharacters: the raw string
        // is its own pattern in both Java regex and RE2
        regexp_replace(c, from, to)
      }
    trim(regexp_replace(ent, "\\s+", " "))
  }

  /** Word n-gram shingles (space-joined); fewer than n tokens → empty.
    *
    * Single-pass UDF over the token array, for the same reason as
    * [[simhash64]]: lambda bodies are excluded from Catalyst
    * subexpression elimination, so the previous
    * `transform(sequence(...), i => concat_ws(element_at(t, i+j)...))`
    * formulation re-evaluated the full-text regex split once per
    * element_at — O(tokens²) splits per document (measured: the shingle
    * build was 10.3 s of q26's 17.8 s at sf0.1). The token split is the
    * UDF's argument, evaluated exactly once. */
  def shingles(text: Column, n: Int): Column = {
    val mk = udf { (toks: Seq[String]) =>
      if (toks == null || toks.length < n) Seq.empty[String]
      else toks.iterator.sliding(n).withPartial(false)
        .map(_.mkString(" ")).toSeq
    }
    mk(tokens(text))
  }

  def distinctShingles(text: Column, n: Int): Column =
    array_distinct(shingles(text, n))

  /** Fraction of n-gram occurrences that repeat an earlier occurrence:
    * 1 − distinct/total (0 for docs with fewer than n tokens). With the
    * [[shingles]] single-pass build this stays linear and shuffle-free —
    * the Gopher-style "duplicate n-gram" repetition signal. */
  def duplicateNgramFraction(text: Column, n: Int): Column = {
    val grams = if (n == 1) tokens(text) else shingles(text, n)
    when(size(grams) === 0, lit(0.0)).otherwise(
      lit(1.0) - size(array_distinct(grams)).cast("double") /
        size(grams).cast("double"))
  }

  /** Fraction of n-gram occurrences taken by the single most frequent
    * n-gram (the other Gopher repetition signal: a doc whose top bigram
    * covers 20% of the text is boilerplate). Single-pass UDF for the same
    * reason as [[simhash64]]: a per-gram mode as an expression tree is a
    * quadratic nest of array aggregates, while a hash-map count is linear
    * and partition-local. */
  def topNgramFraction(text: Column, n: Int): Column = {
    val top = udf { (grams: Seq[String]) =>
      if (grams == null || grams.isEmpty) 0.0
      else {
        val counts = new java.util.HashMap[String, Int]()
        grams.foreach(g => counts.merge(g, 1, (a, b) => a + b))
        var mx = 0
        counts.values.forEach(v => if (v > mx) mx = v)
        mx.toDouble / grams.length.toDouble
      }
    }
    top(if (n == 1) tokens(text) else shingles(text, n))
  }

  /** One MinHash value: the minimum md5 (as hex string — lexicographic min
    * of fixed-width hex equals numeric min) of seeded shingles. Empty
    * shingle set → null. */
  def minhash(shingleArr: Column, seed: Int): Column =
    array_min(transform(shingleArr, s => md5(concat(lit(seed.toString), s))))

  /** Sentinel above any hex string — the "min" of an empty shingle set. */
  val MinhashEmpty = "zzzzzzzz"

  /** k-wide MinHash signature as an array of 8-hex-char strings.
    *
    * Cost-shape matters at corpus scale: ONE md5 per shingle per group of
    * 4 signature slots — each 32-hex md5 is sliced into four 8-char words
    * that act as independent 32-bit hashes, and the per-slot minima are
    * taken in a single `aggregate` fold where the lambda binds the hash
    * once (no Catalyst re-evaluation per slot). A naive per-seed
    * formulation recomputes tokenize+shingle+md5 k times and was ~10×
    * slower in the benchmark. */
  def minhashSignature(text: Column, n: Int, k: Int): Column = {
    val sh = distinctShingles(text, n)
    val groups = (0 until (k + 3) / 4).map { g =>
      val width = math.min(4, k - 4 * g)
      val hashes =
        if (g == 0) transform(sh, s => md5(s))
        else transform(sh, s => md5(concat(lit(g.toString), s)))
      aggregate(hashes,
        array(Seq.fill(width)(lit(MinhashEmpty)): _*),
        (acc, h) => array((0 until width).map(i =>
          least(element_at(acc, i + 1), substring(h, 1 + 8 * i, 8))): _*))
    }
    if (groups.size == 1) groups.head else concat(groups: _*)
  }

  /** LSH band id: hash of a contiguous slice of the signature. Docs sharing
    * a band are near-duplicate candidates. */
  def lshBand(signature: Column, bandStart: Int, bandSize: Int): Column =
    md5(concat_ws("|",
      (bandStart until bandStart + bandSize).map(i =>
        element_at(signature, i + 1)): _*))

  /** n-gram Jaccard similarity between two *distinct-shingle* arrays. */
  def jaccard(a: Column, b: Column): Column =
    when(size(array_union(a, b)) === 0, lit(0.0)).otherwise(
      size(array_intersect(a, b)).cast("double") / size(array_union(a, b)))

  /** 64-bit SimHash from tokens: per-token md5-derived 64-bit value; each
    * of the 64 bits gets a majority vote across tokens; sign → bit.
    *
    * Implemented as a single-pass UDF: the per-bit voting needs a 64-slot
    * counter per document, which as a Catalyst expression tree becomes 64
    * separate array-aggregates (measured ~10× the cost of the rest of the
    * pipeline combined). The UDF does one MD5 per token and one tight
    * vote loop — linear, partition-local, no shuffle. */
  def simhash64(text: Column): Column = {
    val sim = udf { (toks: Seq[String]) =>
      if (toks == null || toks.isEmpty) 0L
      else {
        val votes = new Array[Int](64)
        val md = java.security.MessageDigest.getInstance("MD5")
        toks.foreach { tok =>
          md.reset()
          val h = md.digest(tok.getBytes("UTF-8"))
          var bit = 0
          while (bit < 64) {
            if ((h(bit >> 3) >> (bit & 7) & 1) == 1) votes(bit) += 1
            bit += 1
          }
        }
        val n = toks.length
        var out = 0L
        var bit = 0
        while (bit < 64) {
          if (votes(bit) * 2 > n) out |= 1L << bit
          bit += 1
        }
        out
      }
    }
    sim(tokens(text))
  }

  /** Hamming distance between two 64-bit simhashes. */
  def hamming64(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))
}
