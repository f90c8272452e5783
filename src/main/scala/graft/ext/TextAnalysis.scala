package graft.ext

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for training-data pipelines (driver mandate):
  * language ID, quality scoring, token counting, fingerprinting. All are
  * pure codegen'd Column expressions — usable in any query, pushdown-safe.
  */
object TextAnalysis {

  /** Whitespace token count. */
  def tokenCountWs(text: Column): Column =
    when(length(trim(text)) === 0, 0)
      .otherwise(size(graft.functions.TextHashFunctions.split_ws(trim(text)))).cast(LongType)

  /** BPE-ish subword count: splits on word/number/punct boundaries the way a
    * byte-pair tokenizer's pre-tokenizer does (letters runs, digit runs,
    * single punctuation marks each count). */
  def tokenCountBpe(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))
      .cast(LongType)

  /** Unicode normalization (NFC default; NFKC folds width/ligatures) with
    * optional C0/C1 control stripping — the ingest cleanup that must run
    * BEFORE any byte-level hashing: decomposed vs precomposed accents
    * hash apart and silently defeat exact dedup. Codegen'd native
    * expression ([[graft.functions.UnicodeNormalize]]); pure map,
    * pushdown-safe. */
  def normalizeText(text: Column, form: String = "NFC",
      stripControl: Boolean = false): Column =
    graft.functions.TextHashFunctions.unicode_normalize(text, form, stripControl)

  /** Occurrences of a literal marker (exact substring count). */
  def substringCount(text: Column, marker: String): Column =
    ((length(text) - length(replace(text, lit(marker), lit("")))) / lit(marker.length))
      .cast(LongType)

  /** n-gram-heuristic language ID over a small closed set: counts
    * language-marker stopwords (space-delimited) + a CJK codepoint check.
    * Returns "zh" | "en" | "es" | "und". */
  def languageId(text: Column): Column = {
    val t = concat(lit(" "), lower(text), lit(" "))
    def marks(words: Seq[String]): Column =
      words.map(w => substringCount(t, s" $w ")).reduce(_ + _)
    val en = marks(Seq("the", "and", "of", "to", "is", "a"))
    val es = marks(Seq("el", "la", "de", "que", "los", "una"))
    val zhChars = size(regexp_extract_all(text, lit("[一-鿿]"), lit(0)))
    when(zhChars > 5, "zh")
      .when(en >= es && en > 0, "en")
      .when(es > en, "es")
      .otherwise("und")
  }

  /** Quality score in [0,1]: blend of length band, punctuation ratio,
    * stopword presence, and mean token length (the classic cheap filters). */
  def qualityScore(text: Column): Column = {
    val nChars = length(text).cast(DoubleType)
    val nTokens = tokenCountWs(text).cast(DoubleType)
    val punct = size(regexp_extract_all(text, lit("[.,!?;:]"), lit(0))).cast(DoubleType)
    val stop = substringCount(concat(lit(" "), lower(text), lit(" ")), " the ")
      .cast(DoubleType)
    val lenScore = when(nChars >= 100 && nChars <= 20000, 1.0)
      .when(nChars < 100, nChars / 100.0).otherwise(lit(20000.0) / nChars)
    val punctScore = when(nTokens === 0, 0.0)
      .otherwise(least(punct / greatest(nTokens, lit(1.0)) * 5.0, lit(1.0)))
    val stopScore = least(stop / greatest(nTokens, lit(1.0)) * 20.0, lit(1.0))
    val meanTok = when(nTokens === 0, 0.0).otherwise(nChars / nTokens)
    val tokScore = when(meanTok >= 3.0 && meanTok <= 12.0, 1.0).otherwise(0.5)
    round((lenScore * 0.4 + punctScore * 0.2 + stopScore * 0.2 + tokScore * 0.2), 6)
  }

  /** Repetition-quality signals (the "Gopher rules" family) as one struct
    * column `{dup_token_frac, top_bigram_frac, dup_trigram_frac}` — a
    * single-pass native expression over the whitespace tokenization (see
    * [[graft.functions.RepetitionStats]]). Boilerplate-heavy and
    * template-generated documents score high on all three; use as a cheap
    * per-row gate BEFORE the (shuffling) dedup family. */
  def repetitionStats(text: Column): Column =
    graft.functions.TextHashFunctions.repetition_stats(
      graft.functions.TextHashFunctions.split_ws(trim(text)))

  /** Stable 128-bit content fingerprint of normalized text (casefold +
    * whitespace collapse) — md5 so it matches any other engine's md5. */
  def fingerprintMd5(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** 64-bit rolling fingerprint (xxhash64 of normalized text) — cheaper
    * join key than md5 at scale. */
  def fingerprint64(text: Column): Column =
    xxhash64(regexp_replace(lower(trim(text)), "\\s+", " "))

  // -------------------------------------------------------------------------
  // pipeline hygiene: scrubbing, chunking, splitting
  // -------------------------------------------------------------------------

  /** Strip markup to plain text: drop tags (`<...>`, including
    * script/style BLOCKS with their contents), decode the five standard
    * XML entities, collapse whitespace. One native expression
    * ([[graft.functions.StripMarkup]]) whose result is exactly that of a
    * regex/replace chain any engine can replay, which is what makes a
    * cleaned corpus re-derivable from the raw crawl. */
  def stripMarkup(html: Column): Column =
    graft.functions.TextHashFunctions.strip_markup(html)

  /** Scrub emails and URLs (the standard pre-training hygiene pass). */
  def scrubPii(text: Column): Column = {
    val noEmail = regexp_replace(text,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    regexp_replace(noEmail, "https?://[^\\s]+", "<URL>")
  }

  /** Split a document into overlapping token-window chunks (context-window
    * packing). Returns array<string>; explode for one row per chunk.
    *
    * SCALE CAVEAT: pass a MATERIALIZED token-array attribute (select the
    * split into a column first, then call this on `col("__t")`). Spark
    * evaluates higher-order-function lambdas interpreted without CSE, so
    * handing this a computed expression (e.g. the split itself) re-runs
    * it once per chunk — the O(len²) pathology the LM bigram path hit at
    * 100× (r16). [[chunkText]] is the convenience wrapper for one-shot /
    * fixture use. */
  def chunkTokens(t: Column, chunkSize: Int, overlap: Int): Column = {
    require(overlap < chunkSize, "overlap must be < chunkSize")
    val step = chunkSize - overlap
    when(size(t) <= chunkSize, array(concat_ws(" ", t)))
      .otherwise(transform(
        // starts: 1, 1+step, 1+2*step, ... while start <= len-overlap
        sequence(lit(1), size(t) - overlap, lit(step)),
        s => concat_ws(" ", slice(t, s, lit(chunkSize)))))
  }

  /** [[chunkTokens]] over raw text — tokenizes inline, so the lambda
    * re-splits per chunk; fine for fixtures, use the attribute form at
    * scale. */
  def chunkText(text: Column, chunkSize: Int, overlap: Int): Column =
    chunkTokens(graft.functions.TextHashFunctions.split_ws(trim(text)),
      chunkSize, overlap)

  /** Deterministic train/val/test assignment: md5-based so ANY engine
    * reproduces the same split (percentile = first 8 md5 hex digits of the
    * id, mod 100). */
  def splitBucket(id: Column): Column =
    conv(substring(md5(id.cast(StringType)), 1, 8), 16, 10)
      .cast(LongType) % 100

  /** "train" | "val" | "test" per the (trainPct, valPct) cut points. */
  def splitLabel(id: Column, trainPct: Int = 90, valPct: Int = 5): Column = {
    val b = splitBucket(id)
    when(b < trainPct, "train")
      .when(b < trainPct + valPct, "val")
      .otherwise("test")
  }

  /** Cross-document boilerplate removal: drop every paragraph (a
    * `sep`-delimited block) that occurs verbatim in at least `minDocFreq`
    * DISTINCT documents, then reconstruct each document's remaining text
    * in original paragraph order. This is the corpus-level complement of
    * the intra-document repetition signals: nav bars, cookie banners, and
    * license footers repeat ACROSS documents, not within one.
    *
    * Scale shape: two shuffles over paragraph-sized rows —
    * (1) `(paragraph, doc)` distinct + count keyed on the paragraph text
    * (map-side partial dedup bounds the shuffle at distinct paragraphs
    * per partition), (2) the rebuild keyed on doc id carrying only
    * surviving paragraphs. The boilerplate list joins as a left-anti;
    * it is high-df by construction (each entry repeats ≥ minDocFreq
    * times in the corpus, so there are ≤ corpus_paragraphs/minDocFreq of
    * them) and AQE downgrades the anti join to broadcast when it fits.
    * Documents whose every paragraph is boilerplate survive with empty
    * text — dropping rows is a separate policy decision
    * (`where(length(text_clean) > 0)`).
    *
    * Output: (`idCol`, `text_clean`), one row per input document. */
  def stripBoilerplate(df: org.apache.spark.sql.DataFrame, idCol: String,
      textCol: String, minDocFreq: Int, sep: String = "\n\n")
      : org.apache.spark.sql.DataFrame = {
    require(minDocFreq >= 2, s"minDocFreq must be >= 2: $minDocFreq")
    val parts = df.select(col(idCol),
      posexplode(split(col(textCol), java.util.regex.Pattern.quote(sep)))
        .as(Seq("__pos", "__part")))
    val boilerplate = parts.select(col("__part"), col(idCol)).distinct()
      .groupBy("__part").agg(count(lit(1)).as("__df"))
      .where(col("__df") >= minDocFreq)
      .select(col("__part").as("__bp"))
    val kept = parts.join(boilerplate, parts("__part") === boilerplate("__bp"),
      "left_anti")
    val rebuilt = kept.groupBy(col(idCol))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("__pos"), col("__part")))),
        x => x.getField("__part")), sep).as("text_clean"))
    df.select(col(idCol)).join(rebuilt, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Blocklist ("bad word") statistics — the C4-style content filter:
    * per row, the count and fraction of (lowercased, whitespace) tokens
    * that appear in `blocklist`. The list folds into the plan as a
    * literal array (blocklists are hundreds to thousands of entries — if
    * yours outgrows a literal, join a broadcast table instead); the whole
    * thing is a pure codegen'd column pair over the scan, zero shuffles,
    * pushdown-safe.
    *
    * Returns a struct `(n_blocked, blocked_ratio)`; `blocked_ratio` is
    * 0.0 for empty/whitespace-only text. Compose the policy yourself:
    * `where(blocklistStats(...).getField("n_blocked") === 0)` is the
    * strict C4 rule, a ratio bound is the lenient variant
    * ([[blocklistFilter]] packages both). */
  def blocklistStats(text: Column, blocklist: Seq[String]): Column = {
    require(blocklist.nonEmpty, "blocklist must not be empty")
    // tokens are lowercased before matching, so fold the list the same
    // way — a caller-supplied mixed-case entry ("BadWord") would
    // otherwise silently never match anything (ADVICE r10)
    val list = blocklist.map(_.toLowerCase)
    // null text behaves like empty text: without the coalesce both struct
    // fields come out NULL and blocklistFilter's `null <= max` predicate
    // silently DROPS a row that contains zero blocked tokens
    val t = coalesce(text, lit(""))
    val toks = graft.functions.TextHashFunctions.split_ws(lower(trim(t)))
    val blocked = size(array_intersect_count(toks, list))
    val n = when(length(trim(t)) === 0, 0).otherwise(size(toks))
    struct(
      blocked.cast(LongType).as("n_blocked"),
      when(n === 0, 0.0).otherwise(blocked.cast(DoubleType) / n.cast(DoubleType))
        .as("blocked_ratio"))
  }

  // filter(toks, t -> t IN list): array_intersect would dedup repeats,
  // under-counting a doc that repeats one blocked token
  private def array_intersect_count(toks: Column, list: Seq[String]): Column =
    filter(toks, t => t.isInCollection(list))

  /** Rows of `df` whose blocked-token count stays ≤ `maxBlocked` AND
    * blocked fraction ≤ `maxRatio` (defaults = the strict C4 rule: zero
    * blocked tokens). A pure filter over the scan. */
  def blocklistFilter(df: org.apache.spark.sql.DataFrame, textCol: String,
      blocklist: Seq[String], maxBlocked: Long = 0L,
      maxRatio: Double = 1.0): org.apache.spark.sql.DataFrame = {
    val s = blocklistStats(col(textCol), blocklist)
    df.where(s.getField("n_blocked") <= maxBlocked &&
      s.getField("blocked_ratio") <= maxRatio)
  }
}
