package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.core.{SessionArtifacts, Tables}
import graft.mr.WordCount

/** Text-analysis operators for training-data pipelines (SURVEY.md §2.3 J):
  * token counting, language ID, quality scoring, fingerprinting, tf-idf.
  * Everything is per-row builtin expressions (codegen'd, shuffle-free)
  * except tf-idf's document-frequency join — which aggregates before
  * joining, so the shuffle carries (term, df) pairs, not documents.
  */
object TextAnalysis {

  /** Per-language stopword marker sets for the n-gram/stopword langid
    * heuristic. Deterministic scoring: count of token hits per set. */
  val StopwordSets: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "in", "is", "that", "for", "it"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "mit", "ein", "zu", "den"),
    "es" -> Seq("el", "los", "de", "y", "un", "una", "es", "por", "que", "se"),
    "fr" -> Seq("le", "les", "et", "de", "un", "une", "est", "pour", "que", "dans"),
    "zh" -> Seq("的", "了", "是", "我", "不", "在", "他", "有", "这", "上"))

  // shared with Curation (the funnel's consistency with these signals is
  // structural, not copy-pasted)
  private[operators] def toks(text: Column): Column = split(lower(text), " ")

  /** FIXTURE CONTRACT (ADVICE r11): every fixture document stays under
    * these token/char lengths — measured max 100 tokens / 577 chars at
    * sf0.1, ≥14× margin. The DuckDB oracles replay per-position token and
    * character walks through a generate_series join, which needs a
    * CONSTANT series bound; the engine side walks unbounded arrays, so a
    * regenerated corpus crossing the bound would silently desynchronize
    * oracle shingle/edge sets from the engine and hash-fail for a
    * fixture-size (not algorithmic) reason. Every text oracle derives its
    * series bound from THESE constants and `FixtureContractSpec` asserts
    * the fixture obeys them, so a crossing fails loudly at the named
    * contract instead of mysteriously at a hash gate. */
  val MaxDocTokens = 4096
  val MaxDocChars = 8192

  private[operators] def hitCount(tokens: Column, words: Seq[String]): Column =
    size(filter(tokens, t => t.isin(words.map(lit): _*)))

  /** Per-language stopword hit counts over a token array. */
  private[operators] def langScores(tokens: Column): Seq[(String, Column)] =
    StopwordSets.map { case (lang, words) => lang -> hitCount(tokens, words) }

  /** The langId argmax with fixed priority order (en > de > es > fr > zh)
    * on ties — ONE implementation consumed by [[langId]] and
    * [[Curation.filterFunnel]]. */
  private[operators] def langPredOf(tokens: Column): Column = {
    val scores = langScores(tokens)
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    // foldRight gives earlier entries priority on ties (en first)
    scores.foldRight(lit("und")) { case ((lang, sc), acc) =>
      when(sc === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Token counting: regex tokens (reference tokenizer), whitespace tokens,
    * distinct tokens. */
  def tokenStats(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select(
      $"doc_id",
      size(regexp_extract_all(lower($"text"), lit(WordCount.TokenPattern), lit(0))).cast("bigint").as("n_regex_toks"),
      size(toks($"text")).cast("bigint").as("n_ws_toks"),
      size(array_distinct(toks($"text"))).cast("bigint").as("n_distinct"))
  }

  /** Language ID: stopword-set hit counts, argmax with fixed priority
    * order (en > de > es > fr > zh) on ties. Fully deterministic formula —
    * mirrored verbatim in the oracle. */
  def langId(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = toks($"text")
    val scores = langScores(t)
    Tables.documents(s, d).select(
      Seq($"doc_id") ++ scores.map { case (l, c) => c.cast("bigint").as(s"c_$l") } :+
        langPredOf(t).as("lang_pred"): _*)
  }

  /** Quality scoring: length, token stats, punctuation/stopword/alpha
    * ratios (rounded to 6dp — ratio division is engine-exact but rounding
    * makes the contract explicit), and a keep/drop flag. */
  def quality(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val t = toks($"text")
    val nChars = length($"text")
    val nToks = size(t)
    val punct = size(regexp_extract_all($"text", lit("[^a-z0-9 ]"), lit(0)))
    val stop = hitCount(t, StopwordSets.head._2)
    val avgTokLen = round((nChars - (nToks - 1)).cast("double") / nToks, 6)
    Tables.documents(s, d).select(
      $"doc_id",
      nChars.cast("bigint").as("n_chars"),
      nToks.cast("bigint").as("n_toks"),
      avgTokLen.as("avg_tok_len"),
      round(punct.cast("double") / nChars, 6).as("punct_ratio"),
      round(stop.cast("double") / nToks, 6).as("stopword_ratio"),
      // keep gates on the same 6dp-ROUNDED ratio the row emits (and that
      // Curation.filterFunnel compares), so the two stay exactly
      // consistent for any corpus
      (nChars >= 100 && nToks >= 20 &&
        round(stop.cast("double") / nToks, 6) >= 0.05).as("keep"))
  }

  /** Readability scoring — the Flesch reading-ease shape in exact
    * integer milli-units (206.835 − 1.015·words/sentence −
    * 84.6·syllables/word, ×1000), with the syllable count replaced by
    * the standard vowel-group proxy (runs of [aeiouy] per word — the
    * deterministic heuristic every syllable counter bottoms out in).
    * All three counts come from `regexp_extract_all` lengths, which
    * DuckDB replays with the identical RE2-class patterns, and the
    * score uses floor division (`div` / `//` agree on non-negative
    * operands) — bit-exact across engines, no doubles. Sentence count
    * floors at 1 (a fragment is one sentence); word count floors at 1
    * in the divisor only. Per-row, zero shuffles — at 100 TB this is a
    * pure map stage that fuses into whatever scan feeds it, the same
    * economics as `text_quality`'s gates. */
  def readability(s: SparkSession, d: String): DataFrame =
    readabilityOf(Tables.documents(s, d))

  /** Core over any (doc_id, text) frame — the declared query and
    * AnalyticsSpec's closed-form law both drive this path. */
  def readabilityOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val words = size(regexp_extract_all(lower($"text"), lit("[a-z]+"), lit(0))).cast("bigint")
    val sents = greatest(
      size(regexp_extract_all($"text", lit("[.!?]+"), lit(0))).cast("bigint"), lit(1L))
    val vg = size(regexp_extract_all(lower($"text"), lit("[aeiouy]+"), lit(0))).cast("bigint")
    docs
      .select($"doc_id", words.as("n_words"), sents.as("n_sents"),
        vg.as("n_vgroups"))
      .select($"doc_id", $"n_words", $"n_sents", $"n_vgroups",
        (lit(206835L) - expr("(1015 * n_words) div n_sents")
          - expr("(84600 * n_vgroups) div greatest(n_words, 1)"))
          .as("score_milli"))
      .select($"doc_id", $"n_words", $"n_sents", $"n_vgroups", $"score_milli",
        ($"score_milli" >= 60000L).cast("bigint").as("readable"))
  }

  /** Vocabulary coverage curve — the tokenizer-budget question ("what
    * fraction of the corpus do the top-k types cover?") asked before
    * sizing any vocab: rank types by corpus frequency (deterministic
    * count-desc/type-asc), cumulative-sum their counts, and report
    * exact ppm coverage at k ∈ {1,2,4,8,16,31}. All integers — counts,
    * running sums, floor-div ppm — so DuckDB replays bit-exactly. The
    * heavy aggregate (type counts) is map-side combinable; only the
    * TOP 31 types survive past it — a distributed top-k
    * (TakeOrderedAndProject, per-partition 31-row heaps, plan-pinned
    * in PlanShapeSpec) — so the rank/cumsum windows run over a ≤31-row
    * frame (the bounded-frame discipline; round-9 rewrite of the
    * flagged full-|vocab| single-partition window — at 100 TB the type
    * profile is billions of rows and must never cross one partition).
    * The grand total rides a broadcast 1-row scalar. */
  def vocabCoverage(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(s, d)
      .select(explode(split(lower($"text"), " ")).as("tok"))
      .where($"tok" =!= "")
    val counts = toks.groupBy($"tok").agg(count(lit(1)).as("n"))
      // both consumers (top-31, grand total) re-derive from the token
      // explode otherwise — materialize the |vocab| profile once
      .localCheckpoint(eager = false)
    // global rank 1..31 == rank within the top-31 under the same total
    // order, so the post-limit row_number is exact and bounded
    val top = counts.orderBy($"n".desc, $"tok".asc).limit(31)
    val ranked = top.withColumn("rk",
      row_number().over(Window.orderBy($"n".desc, $"tok".asc)))
    val cum = ranked.withColumn("covered",
      sum($"n").over(Window.orderBy($"rk".asc)))
    val total = counts.agg(sum($"n").as("total"))
    cum.where($"rk".isin(1, 2, 4, 8, 16, 31))
      .crossJoin(broadcast(total)) // 1-row scalar
      .select($"rk".cast("bigint").as("k"), $"covered", $"total",
        expr("(covered * 1000000) div total").as("coverage_ppm"))
  }

  final case class CompRow(doc_id: Long, n_bytes: Long, compressible: Long,
      bound_ok: Long)

  /** Compression-ratio quality signal (the Gopher/FineWeb-class filter:
    * text that deflates to almost nothing is boilerplate/repetition;
    * text that doesn't deflate at all is noise or binary). A REAL
    * DEFLATE codec (java.util.zip.Deflater, level 6, one instance
    * reused per partition — the codec-amortization discipline of the
    * `mm_*` kernels) compresses each document; since no SQL engine can
    * replay zlib byte counts, the EMITTED columns follow the
    * bound-flag discipline: exact byte length, `compressible` (ratio
    * < 0.9, asserted only for docs ≥ 200 bytes where the corpus
    * guarantees it; −1 = not assessed below that), and `bound_ok`
    * (deflate's worst-case expansion bound raw + raw/1000 + 64 held).
    * The ratio itself is spec territory (planted repetition vs
    * incompressible-bytes law in AnalyticsSpec). Per-row, zero
    * shuffle. */
  def compressionRatio(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    Tables.documents(s, d).select($"doc_id", $"text").as[(Long, String)]
      .mapPartitions { it =>
        val defl = new java.util.zip.Deflater(6)
        it.map { case (id, text) =>
          val raw = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val comp = deflateLen(defl, raw)
          val compressible =
            if (raw.length < 200) -1L
            else if (comp * 10L < raw.length * 9L) 1L else 0L
          val boundOk =
            if (comp <= raw.length + raw.length / 1000 + 64) 1L else 0L
          CompRow(id, raw.length.toLong, compressible, boundOk)
        }
      }
      .toDF()
  }

  /** Deflate `raw` with a reused (reset) Deflater, returning the
    * compressed byte count. */
  private[operators] def deflateLen(defl: java.util.zip.Deflater,
      raw: Array[Byte]): Long = {
    defl.reset()
    defl.setInput(raw)
    defl.finish()
    val buf = new Array[Byte](raw.length + raw.length / 1000 + 128)
    var n = 0
    while (!defl.finished() && n < buf.length)
      n += defl.deflate(buf, n, buf.length - n)
    n.toLong
  }

  /** Corpus bigram mining with a stopword filter: tokens minus English
    * stopwords → word 2-grams → global top-20 by count (unique tiebreak
    * on the bigram). Shuffle carries (bigram, partial count); the top-20
    * is a TakeOrderedAndProject after the aggregation. */
  def topBigrams(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val stop = StopwordSets.head._2
    val toksFiltered = filter(split(lower($"text"), " "),
      t => !t.isin(stop.map(lit): _*) && t =!= "")
    Tables.documents(s, d)
      .select(Dedup.wordShinglesOf(toksFiltered, 2).as("grams"))
      .select(explode($"grams").as("bigram"))
      .groupBy($"bigram").agg(count(lit(1)).as("n"))
      .orderBy($"n".desc, $"bigram".asc)
      .limit(20)
  }

  /** Duplicated-passage profile (the sub-document dedup signal of
    * Lee et al., "Deduplicating Training Data Makes Language Models
    * Better"): a passage = a distinct word 8-gram; a passage is
    * duplicated if it appears in ≥2 documents; each doc reports how much
    * of it is duplicated material (exact integer ppm). Doc-level dedup
    * misses exactly this — two long docs sharing one boilerplate
    * paragraph — and the ppm profile is what a curation pass thresholds
    * to excise it. Shape: one (doc, shingle) explode, the
    * document-frequency count as a window over the SAME shingle
    * exchange, then a per-doc aggregate; the shuffle carries shingle
    * strings once (at 100 TB, hash the shingles first — the
    * ShingleHashes expression exists for exactly that). Docs under 8
    * tokens have no passages and drop out (same contract as the
    * shingle-based dedup family). */
  def dupPassages(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val sh = Tables.documents(s, d)
      .select($"doc_id", explode(Dedup.wordShingles($"text", 8)).as("s"))
    sh.withColumn("df", count(lit(1)).over(Window.partitionBy($"s")))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_shingles"),
           sum(when($"df" >= 2, 1L).otherwise(0L)).as("n_dup"))
      .select($"doc_id", $"n_shingles", $"n_dup",
        expr("n_dup * 1000000 div n_shingles").as("dup_ppm"))
  }

  /** HTML boilerplate strip — the first transform of every web-crawl
    * pipeline: markup in, visible text out. Markup is STAGED
    * deterministically around each document (title/head/body/paragraph
    * template with the doc id in the title), then stripped with REAL
    * regex surgery — tag removal (`<[^>]+>` → space), whitespace
    * re-normalization, trim — all codegen'd `regexp_replace`, zero
    * shuffle. The oracle derives the expected clean text ANALYTICALLY
    * from the template (the mm_meta independence): a stripper bug can't
    * cancel against itself. n_tags counts the markup actually present
    * (regexp_count), recovered_ok flags that stripping recovered exactly
    * the title text + original document. */
  def htmlStrip(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val html = concat(
      lit("<html><head><title>doc"), $"doc_id", lit("</title></head><body><p class=\"main\">"),
      $"text", lit("</p><br/></body></html>"))
    Tables.documents(s, d)
      .select($"doc_id", $"text", html.as("html"))
      .select($"doc_id", $"text",
        trim(regexp_replace(regexp_replace($"html", "<[^>]+>", " "), "\\s+", " ")).as("clean"),
        regexp_count($"html", lit("<[^>]+>")).as("n_tags"))
      .select($"doc_id", length($"clean").cast("bigint").as("clean_len"),
        $"n_tags".cast("bigint").as("n_tags"),
        ($"clean" === concat(lit("doc"), $"doc_id", lit(" "), trim($"text")))
          .cast("long").as("recovered_ok"))
  }

  /** Span-level dedup DELIVERABLE (the cleaned-corpus producer
    * [[dupPassages]] only profiles): overlapping duplicated word-8-gram
    * runs are merged into token spans and excised, keeping the first
    * occurrence corpus-wide. Semantics: a gram is duplicated if it
    * occurs in ≥2 distinct documents (cross-doc boilerplate — the same
    * df ≥ 2 discipline as dupPassages; within-doc repetition is the
    * repetition filter's job); its OWNER is the minimum doc_id containing
    * it, which keeps every occurrence; every occurrence in a later doc is
    * removed material. Per doc the removed positions' [i, i+8) windows
    * union into character-contiguous token spans (overlapping grams of
    * one duplicated passage collapse to one span), and the cleaned text
    * is the uncovered tokens rejoined.
    *
    * Shape (the dupPassages gram-shuffle discipline): positional gram
    * occurrences shuffle ONCE by gram (df + owner as window functions
    * over that exchange — no second corpus scan for the profile), then
    * removed positions aggregate per doc_id, and all span merging is
    * doc-bounded array arithmetic (sort + one indexed filter) — no
    * per-span rows ever shuffle. At 100 TB, hash the gram strings first
    * (ShingleHashes) so the exchange carries 8-byte keys. */
  def dedupSpans(s: SparkSession, d: String): DataFrame =
    dedupSpansOf(s, Tables.documents(s, d))

  /** Corpus-shaped core of [[dedupSpans]] (spec hook: planted-duplication
    * law runs it on a constructed corpus). Input: (doc_id, text). */
  private[graft] def dedupSpansOf(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    val toksDf = docs.select($"doc_id", toks($"text").as("tk"))
    val occ = gramOcc(toksDf)
    val wg = Window.partitionBy($"g")
    val removed = occ
      .withColumn("df", size(collect_set($"doc_id").over(wg)))
      .withColumn("owner", min($"doc_id").over(wg))
      .where($"df" >= 2 && $"doc_id" =!= $"owner")
      .select($"doc_id", $"pos")
    spanAssembly(toksDf, removed)
  }

  /** Span-gram length shared by the [[dedupSpans]] family. */
  private val SpanN = 8

  /** Character window for [[dedupSubstring]] — the Lee et al. 2022
    * ("Deduplicating Training Data Makes Language Models Better")
    * ExactSubstr length threshold, in characters: a duplicated run must
    * span ≥ this many consecutive characters to be excised. */
  val SubstrN = 50

  /** CHARACTER-exact substring dedup — the byte-level rung below
    * [[dedupSpans]]'s word-8-gram tier (the Lee et al. 2022 ExactSubstr
    * class). Realized as positional char-[[SubstrN]]-grams instead of a
    * suffix array: a character position lies in a ≥ [[SubstrN]]-char
    * cross-doc duplicated run IFF some length-[[SubstrN]] window through
    * it has df ≥ 2 (every long duplicated run is exactly the union of
    * its length-[[SubstrN]] windows; shorter shared runs produce no
    * fully-duplicated window) — the same cover set the suffix-array scan
    * yields, from one relational exchange. Ownership matches
    * [[dedupSpans]]: the minimum doc_id containing a window keeps every
    * occurrence, later docs' occurrences are removed material. Operates
    * on RAW text (no lowercasing): this tier is byte-exact by intent.
    *
    * Shape — hash-prefilter then exact-confirm (the join_bloom
    * candidate discipline, which is what makes this affordable at
    * 100 TB): the full positional exchange carries only (doc_id, pos,
    * xxhash64(window)) — 8-byte keys, never the 50-char strings — and a
    * map-side-combined profile keeps the hash buckets with ≥2 distinct
    * docs. Only those candidate positions (∝ true duplicated material,
    * a tiny fraction of the corpus) regenerate their exact strings from
    * the doc text (one doc_id join) and pay the string exchange for the
    * exact df/owner window — so hash collisions can only ADD candidates,
    * never change the answer, and the output stays bit-exact against
    * the all-string oracle. Removed positions aggregate per doc; span
    * merging/cleaning is doc-bounded array arithmetic (O(len·|cov|)
    * probes, bounded by doc length²). Empty and short docs survive via
    * the left join (no windows ⇒ nothing removed ⇒ cleaned = text).
    * Measured at the synthetic decade: the all-string one-exchange
    * shape ran 4.3 s → 43.5 s at sf0.1 → sf1 (the string shuffle IS the
    * cost); this shape's big exchange is fixed-width. */
  def dedupSubstring(s: SparkSession, d: String): DataFrame =
    dedupSubstringOf(Tables.documents(s, d))

  /** Corpus-shaped core of [[dedupSubstring]] (spec hook: the planted
    * over/under-threshold law runs it on a constructed corpus). */
  private[graft] def dedupSubstringOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val base = docs.select($"doc_id", $"text")
    // stage 1: fixed-width positional exchange — (doc_id, pos, h).
    // ROUND-16: repartition the doc frame BEFORE the explode — the
    // fixture's documents scan is ONE parquet split, so the per-position
    // substr+hash explode (the op's dominant compute) ran as a single
    // task regardless of cores (measured 2.4 s of a 5.7 s query; the
    // SCALE.md repartition-pin lesson: input-file partitioning is never
    // a parallelism contract). A slim doc_id exchange of the raw docs
    // buys corpus-wide parallelism for the 250×-amplified explode.
    val occH = base.repartition($"doc_id").select($"doc_id",
      posexplode(when(length($"text") >= SubstrN,
          transform(sequence(lit(1), length($"text") - (SubstrN - 1)),
            i => xxhash64($"text".substr(i, lit(SubstrN)))))
        .otherwise(array().cast("array<bigint>"))).as(Seq("p0", "h")))
      .select($"doc_id", ($"p0" + 1).cast("int").as("pos"), $"h")
      // consumed twice (profile + semi probe): checkpointing the
      // fixed-width rows beats recomputing the substr+hash explode
      // (measured 6.4 vs 8.7 s at sf0.1 — generation, not I/O, dominates)
      .localCheckpoint(eager = false)
    // "window hash seen in ≥ 2 DISTINCT docs" ⇔ min(doc_id) ≠ max(doc_id):
    // same hot set, but min/max is one map-side-combinable aggregate with
    // ONE exchange by h, where countDistinct planned the two-phase distinct
    // (an extra full exchange of the positional set — guide §2.3/§2.4;
    // ~4% at sf0.1 where generation dominates, but the removed exchange
    // carries the op's dominant shuffle at corpus scale)
    val hotH = occH.groupBy($"h")
      .agg(min($"doc_id").as("dlo"), max($"doc_id").as("dhi"))
      .where($"dlo" =!= $"dhi").select($"h")
    // stage 2: exact strings for CANDIDATE positions only
    val cand = occH.join(hotH, Seq("h"), "left_semi")
      .join(base, Seq("doc_id"))
      .select($"doc_id", $"pos", expr(s"substring(text, pos, $SubstrN)").as("g"))
    val wg = Window.partitionBy($"g")
    val removed = cand
      .withColumn("df", size(collect_set($"doc_id").over(wg)))
      .withColumn("owner", min($"doc_id").over(wg))
      .where($"df" >= 2 && $"doc_id" =!= $"owner")
      .select($"doc_id", $"pos")
    charSpanAssembly(base, removed)
  }

  /** Doc-bounded CHAR-span algebra shared by [[dedupSubstringOf]] and
    * [[dedupSubstringIncremental]] — the character twin of
    * [[spanAssembly]]: removed (doc_id, pos) window positions → covered
    * char indexes → merged contiguous spans → cleaned text. */
  private def charSpanAssembly(docsBase: DataFrame, removed: DataFrame): DataFrame = {
    val s = docsBase.sparkSession
    import s.implicits._
    val perDoc = removed.groupBy($"doc_id").agg(collect_set($"pos").as("ps"))
      .select($"doc_id",
        array_sort(array_distinct(flatten(transform($"ps",
          p => sequence(p, p + SubstrN - 1))))).as("cov"))
    val emptyCov = array().cast("array<int>")
    // ROUND-16 (guide §1.2 step 2): docs with NOTHING removed — the
    // overwhelming majority of any real corpus — previously still paid
    // the per-character array build below (length(text) one-char strings
    // + an array_contains per char, measured as the op's second-largest
    // job). cov IS NULL now short-circuits to the raw text; only docs
    // with removed material walk the per-char path. The doc_id
    // repartition parallelizes that remaining path off the one-split
    // fixture scan.
    docsBase.repartition($"doc_id").join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        length($"text").cast("bigint").as("n_chars"),
        // span starts wherever the previous covered index is not adjacent
        // (the spanAssembly trick: at i = 0 the left disjunct decides)
        size(filter(coalesce($"cov", emptyCov),
          (x, i) => (i === 0) || (x =!= element_at($"cov", greatest(i, lit(1))) + 1)))
          .cast("bigint").as("n_spans"),
        coalesce(size($"cov"), lit(0)).cast("bigint").as("removed_chars"),
        // uncovered characters rejoined; sequence(1, x) descends for
        // x < 1, so empty docs short-circuit
        when($"cov".isNull, $"text").otherwise(
          array_join(filter(
            when(length($"text") >= 1,
              transform(sequence(lit(1), length($"text")),
                i => $"text".substr(i, lit(1))))
            .otherwise(array().cast("array<string>")),
            (_, i) => !array_contains(coalesce($"cov", emptyCov), i + 1)), ""))
          .as("cleaned"))
  }

  /** Positional char-[[SubstrN]]-window STRING occurrences of a
    * (doc_id, text) frame: (doc_id, pos, g), 1-based char positions —
    * the delta-side probe shape for [[dedupSubstringIncremental]]. */
  private def substrOcc(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    docs.select($"doc_id",
      posexplode(when(length($"text") >= SubstrN,
          transform(sequence(lit(1), length($"text") - (SubstrN - 1)),
            i => $"text".substr(i, lit(SubstrN))))
        .otherwise(array().cast("array<string>"))).as(Seq("p0", "g")))
      .select($"doc_id", ($"p0" + 1).cast("int").as("pos"), $"g")
  }

  /** Distinct char-[[SubstrN]]-window set of a (doc_id, text) corpus —
    * the maintained index [[dedupSubstringIncremental]] probes (and the
    * law spec's planted-base builder). */
  private[graft] def substrGramSetOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    substrOcc(docs.select($"doc_id", $"text")).select($"g").distinct()
  }

  /** Delta-shaped core of [[dedupSubstringIncremental]] (spec hook: the
    * era-equivalence law feeds a planted base window set and delta).
    * `baseGrams`: one `g` column, the maintained distinct-window index. */
  private[graft] def dedupSubstringDeltaOf(baseGrams: DataFrame, delta: DataFrame): DataFrame = {
    val s = delta.sparkSession
    import s.implicits._
    val base = delta.select($"doc_id", $"text")
    val wg = Window.partitionBy($"g")
    val removed = substrOcc(base)
      .withColumn("ddf", size(collect_set($"doc_id").over(wg)))
      .withColumn("downer", min($"doc_id").over(wg))
      .join(baseGrams.select($"g", lit(1).as("inb")), Seq("g"), "left")
      .where($"inb".isNotNull || ($"ddf" >= 2 && $"doc_id" =!= $"downer"))
      .select($"doc_id", $"pos")
    charSpanAssembly(base, removed)
  }

  /** Incremental CHARACTER-exact substring dedup — the ingestion-time
    * twin of [[dedupSubstring]] with the [[dedupSpansIncremental]]
    * ownership rule (FIRST-SEEN wins: base era before delta era, min
    * doc_id within an era), so the published byte-exact cleaned base
    * corpus is INVARIANT under ingests. A delta window occurrence is
    * removed material iff the window exists ANYWHERE in the base (one
    * probe of the maintained distinct-window index,
    * session-materialized parquet) or is delta-internal boilerplate
    * (≥2 distinct delta docs, not the min delta doc). Per batch: one
    * delta window exchange + one index probe + the doc-bounded char
    * span algebra — work ∝ |delta| chars; the base is touched only
    * through its index (at 100 TB the index carries 8-byte window
    * hashes bucketed by hash with exact-string confirm on the
    * candidate subset — the [[dedupSubstring]] prefilter discipline
    * applied to the probe; the fixture-scale path carries strings,
    * like the word-tier index). Oracle restates the era-aware rule
    * from scratch over the split corpus; the era-equivalence law
    * plants delta ids above base ids — there first-seen ≡ global-min,
    * so the incremental output must equal [[dedupSubstringOf]] on the
    * union, row for row, restricted to the delta. */
  def dedupSubstringIncremental(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    dedupSubstringDeltaOf(SessionArtifacts.parquet(s, "basesubstr", d)(
        substrGramSetOf(docs.where(Maintenance.bucketCol < 90))),
      docs.where(Maintenance.bucketCol >= 90))
  }

  /** Positional word-[[SpanN]]-gram occurrences of a (doc_id, tk) frame:
    * (doc_id, pos, g). Docs shorter than [[SpanN]] tokens emit no rows
    * (the consumers restore them with a left join). */
  private def gramOcc(toksDf: DataFrame): DataFrame = {
    val s = toksDf.sparkSession
    import s.implicits._
    toksDf.select($"doc_id",
      posexplode(when(size($"tk") >= SpanN,
          transform(sequence(lit(0), size($"tk") - SpanN),
            i => array_join(slice($"tk", i + 1, lit(SpanN)), " ")))
        .otherwise(array().cast("array<string>"))).as(Seq("pos", "g")))
  }

  /** Doc-bounded span algebra shared by [[dedupSpansOf]] and
    * [[dedupSpansIncremental]]: removed (doc_id, pos) gram positions →
    * covered token windows → merged contiguous spans → cleaned text.
    * Everything after the per-doc aggregate is array arithmetic; no
    * per-span rows ever shuffle. */
  private def spanAssembly(toksDf: DataFrame, removed: DataFrame): DataFrame = {
    val s = toksDf.sparkSession
    import s.implicits._
    // per-doc span algebra: covered = sorted distinct union of the removed
    // grams' token windows; a span starts wherever the previous covered
    // index is not adjacent (element_at is 1-based, so at 0-based index i
    // it reads the PREVIOUS element)
    val perDoc = removed.groupBy($"doc_id").agg(collect_set($"pos").as("ps"))
      .select($"doc_id",
        array_sort(array_distinct(flatten(transform($"ps",
          p => sequence(p, p + SpanN - 1))))).as("cov"))
    val emptyCov = array().cast("array<int>")
    toksDf.join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        size($"tk").cast("bigint").as("n_tokens"),
        // greatest(i, 1): ANSI element_at rejects index 0; at i = 0 the
        // left disjunct already decides, the probe just must not throw
        size(filter(coalesce($"cov", emptyCov),
          (x, i) => (i === 0) || (x =!= element_at($"cov", greatest(i, lit(1))) + 1)))
          .cast("bigint").as("n_spans"),
        coalesce(size($"cov"), lit(0)).cast("bigint").as("removed_tokens"),
        array_join(filter($"tk",
          (_, i) => !array_contains(coalesce($"cov", emptyCov), i)), " ")
          .as("cleaned"))
  }

  /** Incremental span-level dedup — the INGESTION-TIME twin of
    * [[dedupSpans]], with the ownership rule a production pipeline
    * actually needs: FIRST-SEEN wins (base era before delta era, min
    * doc_id within an era), so the already-published cleaned base
    * corpus is INVARIANT under new ingests — yesterday's output is
    * never rewritten — and each batch emits only the delta's cleaned
    * rows. ([[dedupSpans]]'s global-min-doc_id owner would let a
    * low-id delta doc steal ownership and retroactively excise spans
    * from published base docs.)
    *
    * A delta gram occurrence is removed material iff the gram exists
    * ANYWHERE in the base (owner is base-era, df ≥ 2 globally), or it
    * is delta-internal boilerplate (≥2 distinct delta docs, not the
    * min delta doc). The maintained artifact is the base corpus's
    * DISTINCT GRAM SET — session-materialized parquet like the banded
    * dedup index; at 100 TB the index carries ShingleHashes 8-byte
    * gram hashes and is bucketed by that hash, so an ingest batch
    * shuffles only the delta side of the probe (the src_bucketed_join
    * discipline). Per batch: delta grams shuffle once (the dupPassages
    * gram-exchange shape) for the delta-internal profile, probe the
    * index with one join, and the span algebra is [[spanAssembly]] —
    * work ∝ |delta| grams, the base is touched only through its index.
    * Oracle restates the era-aware rule from scratch over the split
    * corpus; the era-equivalence law in NewOpsLawSpec plants a corpus
    * where delta ids exceed base ids — there first-seen ≡ global-min,
    * so the incremental output must equal [[dedupSpansOf]] on the
    * union, row for row, restricted to the delta. */
  def dedupSpansIncremental(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    dedupSpansDeltaOf(SessionArtifacts.parquet(s, "basegrams", d)(
        gramSetOf(docs.where(Maintenance.bucketCol < 90))),
      docs.where(Maintenance.bucketCol >= 90))
  }

  /** Distinct word-[[SpanN]]-gram set of a (doc_id, text) corpus — the
    * maintained index [[dedupSpansIncremental]] probes (and the law
    * spec's planted-base builder). */
  private[graft] def gramSetOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    gramOcc(docs.select($"doc_id", toks($"text").as("tk")))
      .select($"g").distinct()
  }

  /** Delta-shaped core of [[dedupSpansIncremental]] (spec hook: the
    * era-equivalence law feeds a planted base gram set and delta).
    * `baseGrams`: one `g` column, the maintained distinct-gram index. */
  private[graft] def dedupSpansDeltaOf(baseGrams: DataFrame, delta: DataFrame): DataFrame = {
    val s = delta.sparkSession
    import s.implicits._
    val toksDf = delta.select($"doc_id", toks($"text").as("tk"))
    val wg = Window.partitionBy($"g")
    val removed = gramOcc(toksDf)
      .withColumn("ddf", size(collect_set($"doc_id").over(wg)))
      .withColumn("downer", min($"doc_id").over(wg))
      .join(baseGrams.select($"g", lit(1).as("inb")), Seq("g"), "left")
      .where($"inb".isNotNull || ($"ddf" >= 2 && $"doc_id" =!= $"downer"))
      .select($"doc_id", $"pos")
    spanAssembly(toksDf, removed)
  }

  /** Token-distribution SHIFT between the base corpus and an ingest
    * batch — the text-side sibling of `simsearch_index_delta`'s drift
    * monitor (is today's data still the distribution we trained the
    * filters/tokenizer on?): TOTAL VARIATION distance between the two
    * unigram distributions, EXACT in integers via cross-multiplication —
    * TV = ½ Σ\|c_i/N − d_i/M\| ⇒ tv_ppm = (Σ\|c_i·M − d_i·N\|)·10⁶
    * div (2·N·M), all DECIMAL(38,0) (per-token products ≤ N·M ≈ 10²⁸ at
    * 10¹⁴-token sides; the Σ ≤ 2NM, ×10⁶ ≤ 2·10³⁴ — inside 38 digits,
    * margins stated not assumed) ≡ the oracle's HUGEINT. Output is the
    * top-10 mover tokens by exact numerator (ties by token — a total
    * order) with per-token contrib_ppm, each row carrying the global
    * tv_ppm (the dbscanIvf global-counts convention). TV over KL/JS
    * because it needs no logs — exact integers end to end, and it is
    * the metric with the coupling/testing interpretation (max event
    * probability difference).
    *
    * Scale shape: ONE corpus scan (explode → conditional two-sided
    * counts in one map-side-combined token aggregate — no join of two
    * profiles), the checkpointed VOCAB-sized profile feeds the totals
    * probe (2 scalars), the TV aggregate (1 scalar), and the top-10
    * (TakeOrderedAndProject, plan-pinned) — the corpus is never
    * rescanned. */
  def shiftTv(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    shiftTvOf(Tables.documents(s, d)
      .select((Maintenance.bucketCol >= 90).as("isd"),
        explode(toks($"text")).as("token")))
  }

  /** Core of [[shiftTv]] over any (isd: boolean, token) frame — the law
    * spec feeds planted identical / disjoint sides (TV = 0 / 10⁶). */
  private[graft] def shiftTvOf(tokens: DataFrame): DataFrame = {
    val s = tokens.sparkSession
    import s.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val prof = tokens
      .groupBy($"token")
      .agg(sum(when($"isd", 0L).otherwise(1L)).as("n_base"),
           sum(when($"isd", 1L).otherwise(0L)).as("n_delta"))
      .localCheckpoint(eager = false) // totals probe + TV aggregate + top-10 movers
    val tot = broadcast(prof.agg(
      sum($"n_base").cast(dec).as("nb"), sum($"n_delta").cast(dec).as("nd")))
    val c = prof.crossJoin(tot)
      .withColumn("num",
        abs($"n_base".cast(dec) * $"nd" - $"n_delta".cast(dec) * $"nb"))
    // empty-side guard (the events_srm denominator discipline): an
    // all-base or all-delta split would integer-divide by zero — NULL
    // under Spark's non-ANSI div, an ERROR under DuckDB's // — so both
    // engines state the NULL verdict explicitly and stay aligned
    val tv = broadcast(c.agg(
      expr("""CAST(CASE WHEN max(nb) = 0 OR max(nd) = 0 THEN NULL
               ELSE sum(num) * 1000000 div (2 * max(nb) * max(nd)) END AS BIGINT)""")
        .as("tv_ppm")))
    c.crossJoin(tv)
      .sort($"num".desc, $"token".asc).limit(10)
      .select($"token", $"n_base", $"n_delta",
        expr("""CAST(CASE WHEN nb = 0 OR nd = 0 THEN NULL
                 ELSE num * 1000000 div (2 * nb * nd) END AS BIGINT)""").as("contrib_ppm"),
        $"tv_ppm")
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004) — PageRank over
    * the word co-occurrence graph, the graph-centrality sibling of
    * [[rake]]'s degree heuristic: stopword-filtered adjacent-token pairs
    * form the undirected distinct edge set, and 3 fixed damped rounds of
    * pr′(w) = 0.15 + 0.85·Σ_{u∈N(w)} pr(u)/deg(u) rank the vocabulary.
    * EXACT integers throughout (the ml_kmeans replayable-loop
    * discipline): pr in ppm, each neighbor term pr(u) div deg(u) and
    * the final (850000·Σ) div 10⁶ are truncating divisions replayed
    * bit-for-bit by the oracle's `//`. The multiply-sum rides
    * DECIMAL(38,0) ≡ HUGEINT: Σ_w pr(w) is ~10⁶·|V| (each round
    * redistributes, never inflates, total mass), so a hub's
    * 850000·Σ-term reaches ~8.5·10¹⁸ at a 10⁷-word vocabulary —
    * BIGINT's edge, stated not assumed. Output: top-20 words under the
    * (pr desc, word asc) total order with degree — deterministic set,
    * TakeOrderedAndProject.
    *
    * Scale shape: one corpus scan → distinct edge set (vocab²-bounded
    * but co-occurrence-sparse — Σ doc lengths pairs pre-distinct);
    * each round is one |E|-sized join + one map-side-combined vocab
    * aggregate, lineage-truncated — the graph_pagerank iteration
    * economics on the word graph. */
  def textrank(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val stop = StopwordSets.head._2
    val tkf = filter(toks($"text"), t => t =!= "" && !t.isin(stop.map(lit): _*))
    val e = Tables.documents(s, d)
      .select(explode(Dedup.wordShinglesOf(tkf, 2)).as("bg"))
      .select(split($"bg", " ").getItem(0).as("a"), split($"bg", " ").getItem(1).as("b"))
      .where($"a" =!= $"b")
      .select(least($"a", $"b").as("lo"), greatest($"a", $"b").as("hi"))
      .distinct()
      .localCheckpoint(eager = false) // both nbr directions + 3 iteration joins
    val nbr = e.select($"lo".as("w"), $"hi".as("u"))
      .union(e.select($"hi".as("w"), $"lo".as("u")))
      .localCheckpoint(eager = false)
    val deg = nbr.groupBy($"w").agg(count(lit(1)).as("deg")).localCheckpoint(eager = false)
    val nbrDeg = nbr
      .join(deg.select($"w".as("u"), $"deg".as("du")), Seq("u"))
      .localCheckpoint(eager = false) // static per-round probe side
    var pr = deg.select($"w", lit(1000000L).as("pr"))
    for (_ <- 1 to 3) {
      val contrib = nbrDeg
        .join(pr.select($"w".as("u"), $"pr".as("pu")), Seq("u"))
        .groupBy($"w")
        .agg(sum(expr("pu div du").cast(dec)).as("contrib"))
      pr = deg.join(contrib, Seq("w"), "left")
        .select($"w",
          expr("""CAST(150000 + (850000 * CAST(coalesce(contrib, 0) AS DECIMAL(38,0)))
                       div 1000000 AS BIGINT)""").as("pr"))
        .localCheckpoint(eager = false)
    }
    pr.join(deg, Seq("w"))
      .sort($"pr".desc, $"w".asc).limit(20)
      .select($"w".as("word"), $"deg".as("degree"), $"pr".as("pr_ppm"))
  }

  /** Collocation mining: directional bigram "lift" — how much more often
    * word w2 follows w1 than independence predicts — in exact integer
    * parts-per-million: lift = (c₁₂·N·10⁶) div (c₁·c₂), with c₁ = w1's
    * occurrences as a bigram left word, c₂ = w2's as a right word, N =
    * total bigrams. The integer form is the cross-engine-stable PMI
    * surrogate (PMI's log changes no ordering; summing nothing, we keep
    * the score exact). Minimum support 5 kills the noise tail. One heavy
    * aggregate over (w1, w2) — map-side combinable — then two
    * whole-partition window sums and a 1-row scalar join over the tiny
    * distinct-bigram profile; the corpus itself is touched once. */
  def collocations(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val stop = StopwordSets.head._2
    val toksFiltered = filter(split(lower($"text"), " "),
      t => !t.isin(stop.map(lit): _*) && t =!= "")
    val big = Tables.documents(s, d)
      .select(Dedup.wordShinglesOf(toksFiltered, 2).as("grams"))
      .select(explode($"grams").as("bigram"))
      .select(split($"bigram", " ").getItem(0).as("w1"),
              split($"bigram", " ").getItem(1).as("w2"))
      .groupBy($"w1", $"w2").agg(count(lit(1)).as("n"))
      .localCheckpoint(eager = false) // profile table: reused by both marginals + total
    big
      .withColumn("cx", sum($"n").over(Window.partitionBy($"w1")))
      .withColumn("cy", sum($"n").over(Window.partitionBy($"w2")))
      .crossJoin(broadcast(big.agg(sum($"n").as("nn"))))
      .where($"n" >= 5)
      .select($"w1", $"w2", $"n",
        // DECIMAL(38,0) on BOTH sides of the division: n·N·10⁶ passes
        // 2⁶³ at ~3·10⁷ corpus bigrams, and cx·cy passes it for two
        // frequent marginals — BIGINT would wrap either one silently
        expr("""cast((n * cast(nn AS decimal(38,0)) * 1000000)
                div (cx * cast(cy AS decimal(38,0))) AS bigint)""")
          .as("lift_ppm"))
  }

  /** Repetition-based quality scoring (the Gopher/MassiveText repetition
    * filters): per doc, the duplicate-bigram fraction (1 − distinct/total
    * word 2-grams — high when a document loops) and the top-token
    * fraction (most frequent token's share — high for degenerate spam).
    * Entirely per-row HOF arithmetic on the token array: zero shuffle,
    * the per-doc O(tokens²) occurrence count is bounded by document
    * length, not corpus size — the textbook map-side quality gate a
    * 100 TB curation pass runs before anything heavier. */
  def repetition(s: SparkSession, d: String): DataFrame =
    repetitionOf(Tables.documents(s, d))

  /** Most-frequent-token occurrence count of a token-array column:
    * sort, then one linear fold tracking the current equal-run length and
    * the best seen — O(n log n) per row vs the O(n × distinct) nested
    * filter-per-distinct-token formulation (which was the most expensive
    * part of both repetition and the curation funnel: ~40% of their
    * per-row time at sf0.1). Multiset max count ≡ longest equal run of
    * the sorted array. The accumulator is a (prev, run, best) struct;
    * every lambda expression is O(1) per element. */
  private[operators] def topTokenCount(tk: Column): Column = {
    val folded = aggregate(
      array_sort(tk),
      struct(lit("").as("prev"), lit(0).as("run"), lit(0).as("best")),
      (acc, x) => {
        val run = when(x === acc("prev"), acc("run") + 1).otherwise(lit(1))
        struct(x.as("prev"), run.as("run"),
          greatest(acc("best"), run).as("best"))
      })
    folded("best")
  }

  /** Core over any (doc_id, text) frame (the declared query and the
    * CurationSpec edge cases both drive THIS code path). */
  def repetitionOf(docs: DataFrame): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    val nToks = size($"tk")
    val bi = Dedup.wordShinglesOf($"tk", 2) // with multiplicity
    val nBi = size(bi)
    val nBiDistinct = size(array_distinct(bi))
    docs
      .select($"doc_id", toks($"text").as("tk"))
      .select($"doc_id",
        nToks.cast("bigint").as("n_toks"),
        when(nBi > 0, round(lit(1.0) - nBiDistinct.cast("double") / nBi, 6))
          .otherwise(0.0).as("dup_bigram_frac"),
        round(topTokenCount($"tk").cast("double") / nToks, 6).as("top_tok_frac"))
  }

  /** Sequence packing (training-batch assembly): concatenate each shard's
    * documents in doc_id order and cut at a fixed token budget — bin_id =
    * which context-window a document STARTS in. Packing is per-shard
    * (pmod(doc_id, shards)), not global: a global cumulative sum would
    * serialize through one partition, while per-shard windows scale with
    * the cluster — the shape a 100 TB tokenize-and-pack job actually
    * uses (shards ≫ executors, each window sorted locally after one
    * hash exchange). */
  def sequencePack(s: SparkSession, d: String, budget: Int = 512,
      shards: Int = 32): DataFrame = {
    import s.implicits._
    val w = Window.partitionBy($"shard").orderBy($"doc_id")
    Tables.documents(s, d)
      .select($"doc_id", pmod($"doc_id", lit(shards.toLong)).as("shard"),
              size(toks($"text")).cast("bigint").as("n_toks"))
      .withColumn("cum", sum($"n_toks").over(w))
      .select($"doc_id", $"shard", $"n_toks",
              floor(($"cum" - $"n_toks") / lit(budget.toDouble)).cast("bigint").as("bin_id"))
  }

  /** Exact corpus heavy hitters (tokens with count > n/k, k=40) via the
    * two-pass sketch-then-confirm pattern — how a 100 TB pass finds its
    * hot keys (stopword lists, skewed join keys, degenerate spam tokens)
    * WITHOUT shuffling the full token vocabulary:
    *
    *  - pass 1: a per-partition Misra-Gries summary (capacity 2k, O(k)
    *    memory) run inside `mapPartitions`; the union of per-partition
    *    candidates is a guaranteed SUPERSET of every global heavy hitter
    *    (pigeonhole: freq > n/k globally forces freq_p > n_p/k in some
    *    partition, and MG with capacity ≥ k retains any such item). The
    *    candidate set is O(k · partitions) — collected to the driver like
    *    the IVF centroid draw, it is sketch-bounded, never O(vocabulary).
    *  - pass 2: ONE aggregation with every non-candidate collapsed into a
    *    sentinel bucket, so the shuffle carries ≤ 2k·P + 1 distinct keys
    *    while still summing the exact stream total n; the exact threshold
    *    cnt·k > n then filters false candidates.
    *
    * The MG candidate set varies with partitioning; the RESULT does not —
    * the superset guarantee + exact confirm make the output the exact
    * heavy-hitter set under any layout (spec-pinned). Integer cross-
    * multiply (cnt·k > n) avoids division entirely. A direct
    * groupBy(token) computes the same answer but shuffles every distinct
    * token — at web-corpus vocabulary sizes that is the difference
    * between a bounded sketch shuffle and a full-vocabulary exchange.
    * (With candidate sets beyond a few thousand, swap the `isInCollection`
    * literal for a broadcast semi-join.) */
  def heavyHitters(s: SparkSession, d: String, k: Int = 40): DataFrame =
    heavyHittersOf(Tables.documents(s, d), k)

  /** Core over any (doc_id, text) frame — declared query + the
    * HeavyHitterSpec partitioning-invariance law drive this path. */
  def heavyHittersOf(docs: DataFrame, k: Int): DataFrame = {
    val s = docs.sparkSession
    import s.implicits._
    // Both passes consume the SAME exploded token stream; without a
    // cache the scan + regex tokenize runs twice (measured ~2× the
    // query). Persist it across the two actions, then localCheckpoint
    // the bounded confirm result (≤ 2k·P + 1 groups) so the cache can
    // be released before returning — the caller's later actions replay
    // the materialized sketch rows, never the token lineage. At 100 TB
    // MEMORY_AND_DISK spills token partitions to local disk, which is
    // still one tokenize instead of two; drop the cache (recompute) if
    // executor-local disk is the scarcer resource.
    val tokens = docs
      .select(explode(filter(toks($"text"), t => t =!= "")).as("tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val candidates: Seq[String] = tokens.as[String]
        .mapPartitions(it => misraGries(it, 2 * k).iterator)
        .distinct().collect().toSeq
      if (candidates.isEmpty) // empty corpus: empty result, schema intact
        return tokens.select($"tok", lit(0L).as("cnt")).where(lit(false))
      val Other = " other" // leading space: split-on-space tokens can never contain one
      val counted = tokens
        .groupBy(when($"tok".isInCollection(candidates), $"tok")
          .otherwise(Other).as("tok"))
        .agg(count(lit(1)).as("cnt"))
      val total = counted.agg(sum($"cnt").as("n_total")) // 1-row scalar
      counted.crossJoin(total)
        .where($"tok" =!= Other && $"cnt" * k > $"n_total")
        .select($"tok", $"cnt")
        .localCheckpoint(true)
    } finally tokens.unpersist()
  }

  /** Misra-Gries frequent-items summary (capacity c) of one iterator:
    * tracked count +1 on hit, insert at 1 while below capacity, else the
    * decrement-all step (every counter −1, zeros evicted). Guarantee:
    * any item with true frequency > n/(c+1) in the stream survives.
    * O(c) memory; decrement cost amortizes to O(1) per element. */
  private[operators] def misraGries(it: Iterator[String], c: Int): Seq[String] =
    misraGriesFrom(it, c, Map.empty).keys.toSeq

  /** The seeded form: resume the summary from a prior state — MG is a
    * one-pass stream algorithm, so folding batch N+1 into batch N's
    * summary IS running it over the concatenated stream; this is what
    * lets [[graft.streaming.Streams.heavyHitters]] keep the summary as
    * incremental keyed state with the same survival guarantee over the
    * whole stream. */
  private[graft] def misraGriesFrom(it: Iterator[String], c: Int,
      init: Map[String, Long]): Map[String, Long] = {
    val m = scala.collection.mutable.HashMap.empty[String, Long] ++= init
    it.foreach { t =>
      m.get(t) match {
        case Some(v) => m(t) = v + 1
        case None if m.size < c => m(t) = 1L
        case None =>
          m.keys.toList.foreach { key =>
            val nv = m(key) - 1
            if (nv == 0) m.remove(key) else m(key) = nv
          }
      }
    }
    m.toMap
  }

  /** Inverted index build (term → posting list) over word bigrams — the
    * original MapReduce textbook workload, shaped for a 100 TB corpus:
    *
    *  - postings are DISTINCT per doc (array_distinct before explode), so
    *    the shuffle carries (gram, doc_id) pairs, not occurrences;
    *  - ONE exchange: the per-gram ranking window and the final groupBy
    *    share the gram hash partitioning (Catalyst reuses it);
    *  - per-index-entry state is BOUNDED: each entry stores df (exact)
    *    plus only the HEAD of the posting list (first 20 doc_ids in
    *    doc_id order) — collect_list sees the rank-filtered rows only,
    *    never an unbounded stopword-class list. Real index shards page
    *    long posting lists exactly this way (head block + continuation);
    *    an entry's full list at 100 TB can exceed executor memory, so an
    *    UNCAPPED collect_set is the classic inverted-index OOM.
    *  - df >= 2 prunes the hapax tail (typically most of the vocabulary,
    *    and useless for lookup joins).
    */
  def invertedIndex(s: SparkSession, d: String, minDf: Int = 2,
      headLen: Int = 20): DataFrame = {
    import s.implicits._
    val grams = Tables.documents(s, d)
      .select($"doc_id", explode(array_distinct(
        Dedup.wordShinglesOf(filter(toks($"text"), t => t =!= ""), 2))).as("gram"))
    val w = Window.partitionBy($"gram").orderBy($"doc_id")
    grams.withColumn("rk", row_number().over(w))
      .groupBy($"gram")
      .agg(count(lit(1)).as("df"),
        array_join(sort_array(collect_list(when($"rk" <= headLen, $"doc_id"))), "|")
          .as("postings_head"))
      .where($"df" >= minDf)
  }

  /** Overlapping-window document chunking (the RAG / long-context
    * training splitter): cut each document's token array into windows of
    * B=32 tokens advancing by stride S=24 (overlap 8), last window
    * ragged. Chunk count = 1 if n ≤ B else ⌈(n−B)/S⌉ + 1 — every token
    * is covered and consecutive chunks share exactly the overlap. Pure
    * per-row array arithmetic (transform + slice + posexplode): zero
    * shuffle, output size ~ n/S rows per doc — the map-side explode a
    * 100 TB chunking pass runs before embedding/tokenizing each chunk. */
  def chunk(s: SparkSession, d: String, b: Int = 32, stride: Int = 24): DataFrame = {
    import s.implicits._
    val t = filter(toks($"text"), x => x =!= "")
    val n = size($"t")
    val nChunks = when(n <= b, lit(1))
      .otherwise(ceil((n - b).cast("double") / stride).cast("int") + 1)
    Tables.documents(s, d)
      .select($"doc_id", t.as("t"))
      .select($"doc_id",
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => struct(
            size(slice($"t", i * stride + 1, lit(b))).cast("bigint").as("nt"),
            array_join(slice($"t", i * stride + 1, lit(b)), " ").as("ct")))))
      .select($"doc_id", $"pos".cast("bigint").as("chunk_id"),
        $"col.nt".as("n_chunk_toks"), $"col.ct".as("chunk_text"))
  }

  /** Unigram-LM quality score (the KenLM-perplexity-proxy curation
    * signal): per doc, the mean negative log-likelihood of its tokens
    * under the corpus's own unigram distribution — low = stereotypical
    * text, high = rare-token-heavy (OCR noise, gibberish). Same one-pass
    * derivation as tf-idf: corpus explodes ONCE into (doc, term, tf);
    * term frequencies and the corpus total derive from that aggregate, so
    * the token stream is shuffled once and the freq join carries (term,
    * count) pairs, never documents. Numeric discipline: each term's
    * −ln p is computed once and scaled to an INTEGER (micro-nats) before
    * any summation — per-doc totals are integer sums (order-independent
    * under any partitioning), the per-doc mean is an integer division,
    * and the only double ops are one ln and one exact-input division per
    * TERM. Summing raw double logs across a group would be
    * partial-aggregation-order dependent, and a rounded double ratio in
    * the output would sit on cross-engine half-boundary rounding — both
    * floating-point traps a distributed scoring pass must dodge. */
  def logprob(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tok = Tables.documents(s, d)
      .select($"doc_id", explode(filter(toks($"text"), t => t =!= "")).as("tok"))
    val tf = tok.groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false) // one corpus explode feeds both consumers below
    val freq = tf.groupBy($"tok").agg(sum($"tf").as("c"))
    val total = freq.agg(sum($"c").as("n_total")) // 1-row scalar
    tf.join(freq, "tok").crossJoin(broadcast(total))
      .withColumn("li",
        round(-log($"c".cast("double") / $"n_total") * 1e6).cast("bigint"))
      .groupBy($"doc_id")
      .agg(sum($"tf").as("n_toks"),
        // integer micro-nats END TO END: a rounded double ratio here would
        // reintroduce the exact cross-engine half-boundary rounding class
        // the window_dist fix removed (Spark HALF_UP vs DuckDB half-even)
        expr("sum(tf * li) div sum(tf)").as("mean_neglogp_unat"))
  }

  /** Token-entropy quality signal (the unigram diversity cousin of the
    * [[repetition]] filters): per doc, the Shannon entropy of its own
    * token distribution, H = Σ (tf/n)·ln(n/tf), in integer micro-nats —
    * near-zero for degenerate one-token spam, ~ln(n) for fully diverse
    * text. Same determinism recipe as [[logprob]]: each term is
    * integer-scaled BEFORE the per-doc sum (term = round(tf·ln(n/tf)·10⁶),
    * H_unat = Σterm div n), so totals are order-independent integer
    * sums. One corpus explode, two map-side-combinable aggregates that
    * share the doc_id hash partitioning. */
  def entropy(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tf = Tables.documents(s, d)
      .select($"doc_id", explode(filter(toks($"text"), t => t =!= "")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
    val w = Window.partitionBy($"doc_id")
    tf.withColumn("n", sum($"tf").over(w))
      .withColumn("term",
        round($"tf" * log($"n".cast("double") / $"tf") * 1e6).cast("bigint"))
      .groupBy($"doc_id")
      .agg(max($"n").as("n_toks"), count(lit(1)).as("n_distinct"),
        expr("sum(term) div max(n)").as("entropy_unat"))
  }

  /** Bigram-LM quality score — [[logprob]]'s conditional upgrade (the
    * KenLM-style fluency signal CCNet-class pipelines threshold on):
    * per doc, the mean −ln p(w_i | w_{i−1}) under the corpus's own
    * add-one-smoothed bigram model, p = (c(w_{i−1}w_i) + 1) /
    * (c(w_{i−1}·) + V). Same determinism recipe as logprob: each
    * per-bigram log is integer-scaled to micro-nats BEFORE summation,
    * per-doc mean by integer division — order-independent everywhere.
    * ONE corpus bigram explode feeds everything: doc-bigram frequencies,
    * corpus counts, left-marginal counts (a window on the bigram
    * profile) and the vocab scalar V — defined as the vocabulary
    * observed in bigram contexts, i.e. distinct words of the bigram
    * profile itself, so no second corpus pass exists anywhere (a
    * token-level V would re-scan and re-tokenize the corpus to add only
    * the words of single-token documents). */
  def bigramLm(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tk = filter(toks($"text"), t => t =!= "")
    val big = Tables.documents(s, d)
      .select($"doc_id", explode(Dedup.wordShinglesOf(tk, 2)).as("bg"))
    val tfb = big.groupBy($"doc_id", $"bg").agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false) // one corpus explode feeds every consumer below
    val cnt = tfb.groupBy($"bg").agg(sum($"tf").as("cb"))
      .withColumn("w1", split($"bg", " ").getItem(0))
      .withColumn("cl", sum($"cb").over(Window.partitionBy($"w1")))
      .localCheckpoint(eager = false) // profile table: feeds the join AND the vocab scalar
    val vocab = cnt
      .select(explode(split($"bg", " ")).as("tok"))
      .agg(count_distinct($"tok").as("v")) // 1-row scalar, profile-sized
    tfb.join(cnt.select($"bg", $"cb", $"cl"), "bg")
      .crossJoin(broadcast(vocab))
      .withColumn("li",
        round(-log(($"cb" + 1).cast("double") / ($"cl" + $"v")) * 1e6).cast("bigint"))
      .groupBy($"doc_id")
      .agg(sum($"tf").as("n_bigrams"),
        expr("sum(tf * li) div sum(tf)").as("mean_neglogp_unat"))
  }

  /** GPT-2-style BPE pre-tokenizer regex — the contraction/letter-run/
    * digit-run/punct-run split every byte-pair tokenizer applies before
    * merges. Counting these is the standard "how many tokens is this
    * corpus" estimator. Same RE2-compatible pattern on both engines. */
  val BpePattern = "'(?:s|t|re|ve|m|ll|d)| ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ']+"

  /** BPE-ish token counting: pre-tokenizer segment count and distinct
    * count, plus a chars-per-token ratio (the quick tokens≈bytes/4
    * sanity metric for training-data sizing). */
  def bpeTokens(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val segs = regexp_extract_all(lower($"text"), lit(BpePattern), lit(0))
    Tables.documents(s, d).select(
      $"doc_id",
      size(segs).cast("bigint").as("n_bpe"),
      size(array_distinct(segs)).cast("bigint").as("n_bpe_distinct"),
      round(length($"text").cast("double") / size(segs), 6).as("chars_per_tok"))
  }

  /** Winnowing document fingerprint (the MOSS rolling-hash scheme): hash
    * every k-gram (k=8), slide a w=4 window over the hash sequence, keep
    * each window's minimum — a position-robust fingerprint set whose
    * density is 2/(w+1), used for plagiarism/near-dup detection at scale.
    * Computed by the one-pass codegen [[graft.functions
    * .WinnowFingerprints]] expression (the declarative formulation
    * materialized an n-element md5-hex array per row and re-sliced it
    * per window position — 3.0 s at sf0.1, the 2nd most expensive
    * per-row stage of the round-2 bench; bit-parity asserted in
    * WinnowParitySpec). md5 (not xxhash64) so DuckDB can replay it for
    * the oracle; hash choice is immaterial to the winnowing guarantee. */
  def winnowFingerprint(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    graft.functions.WinnowFingerprints.register(s)
    Tables.documents(s, d)
      // repartition-pin (SCALE.md): one md5 per char position is the
      // text family's heaviest per-row kernel, and the fixture scan is
      // one split — pin the parallelism before the kernel
      .repartition(s.sparkContext.defaultParallelism)
      .select($"doc_id",
        explode(graft.functions.WinnowFingerprints
          .winnowFingerprints(lower($"text"), 8, 4)).as("fp"))
  }

  /** The original declarative formulation, kept as the parity reference
    * for WinnowParitySpec (bit-identical contract). */
  def winnowFingerprintDeclarative(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val k = 8
    val w = 4
    val t = $"t" // materialized by the projection below: a lambda-body
    // reference to lower($"text") would re-lowercase the doc per position
    val hashes = when(length(t) >= k + w - 1,
        transform(sequence(lit(1), length(t) - (k - 1)), i => md5(t.substr(i, lit(k)).cast("binary"))))
      .otherwise(array().cast("array<string>"))
    Tables.documents(s, d)
      .select($"doc_id", lower($"text").as("t"))
      .select($"doc_id", hashes.as("hs"))
      .select($"doc_id", explode(array_distinct(
        when(size($"hs") >= w, // sequence(1, x) descends when x < 1
          transform(sequence(lit(1), size($"hs") - (w - 1)), j => array_min(slice($"hs", j, lit(w)))))
        .otherwise(array().cast("array<string>")))).as("fp"))
  }

  /** Document fingerprint: md5 of whitespace-normalized lowercased text
    * (split-join normalization — multi-space collapse). */
  def fingerprint(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val norm = array_join(filter(split(lower($"text"), " "), t => t =!= ""), " ")
    Tables.documents(s, d).select($"doc_id", md5(norm.cast("binary")).as("fp"))
  }

  /** tf-idf, top-3 terms per document: tf = in-doc count, df = docs
    * containing term, idf = ln((N+1)/(df+1)) + 1 (smoothed). The df side
    * aggregates before the join (shuffle of (term, df), not documents);
    * N is a scalar broadcast via crossJoin of a 1-row aggregate. */
  def tfidfTop3(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val docs = Tables.documents(s, d)
    // ONE corpus pass: df is derived FROM tf (tf's (doc, term) grouping
    // already is the distinct set), so the corpus's token occurrences are
    // exploded and shuffled once — the round-2 version ran the explode
    // twice and shuffled both copies (tf groupBy + df distinct), which
    // made this the most contention-sensitive query of the driver's
    // round-2 bench (7.2× its recorded median).
    // localCheckpoint: tf feeds BOTH df and the scored join; without it
    // the explode+groupBy would re-run per consumer (the subtrees differ
    // — partial-agg below df's exchange — so ReuseExchange can't help)
    val term = docs.select($"doc_id", explode(toks($"text")).as("term"))
    val tf = term.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false)
    val df = tf.groupBy($"term").agg(count(lit(1)).as("df"))
    val n = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(df, "term").crossJoin(broadcast(n))
      .select($"doc_id", $"term",
        round($"tf" * (log(($"n_docs" + 1).cast("double") / ($"df" + 1)) + 1.0), 6).as("tfidf"))
    val w = Window.partitionBy($"doc_id").orderBy($"tfidf".desc, $"term".asc)
    scored.withColumn("rk", row_number().over(w)).where($"rk" <= 3)
      .select($"doc_id", $"term", $"tfidf", $"rk".cast("bigint").as("rk"))
  }

  /** BM25 retrieval: query-term count and the top result-set size. */
  val Bm25QTerms = 5
  val Bm25TopDocs = 50

  /** BM25 document ranking ([[tfidfTop3]]'s retrieval-grade upgrade —
    * tf saturation + document-length normalization, the default keyword
    * relevance function of every search stack): score the whole corpus
    * against the [[Bm25QTerms]] heaviest corpus terms and keep the
    * [[Bm25TopDocs]] best documents.
    *
    * Exact-integer discipline: k1 = 1.2 and b = 0.75 are exact rationals
    * (12/10, 3/4) and avgdl = T/N stays a ratio of BIGINTs, so each
    * term's score multiplies out to
    * idf_micro·tf·22·T div (10·tf·T + 3·T + 9·dl·N) — one truncating
    * division of non-negative BIGINTs per (doc, term), integer sums per
    * doc. The only double op is one ln per TERM (the idf), integer-scaled
    * before any summation (the [[logprob]] recipe). The `1 +` inside the
    * idf ln keeps it strictly positive for high-df terms (the
    * Lucene-style floor), which keeps every numerator non-negative —
    * Spark `div` truncates while DuckDB `//` floors, so sign discipline
    * is what makes them identical. Magnitude bound: idf_micro ≤ 1.5e7,
    * tf ≤ dl, so the numerator stays < 2⁶³ while tf·T < 2.7e10 — petabyte
    * corpora would move the micro scale down or the arithmetic to
    * DECIMAL(38).
    *
    * Scale shape: ONE corpus explode (tf feeds dl, the stats scalar, the
    * query-term draw AND the scorer — same one-pass derivation as
    * [[tfidfTop3]]); the query side is a [[Bm25QTerms]]-row TakeOrdered
    * broadcast, the per-doc profile join carries (doc, dl) pairs, and the
    * final ranking is a [[Bm25TopDocs]]-row TakeOrdered — nothing global
    * ever materializes. */
  def bm25(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val tf = Tables.documents(s, d)
      .select($"doc_id", explode(filter(toks($"text"), t => t =!= "")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
      .localCheckpoint(eager = false) // one corpus explode feeds df, dl, qterms, scorer
    val dl = tf.groupBy($"doc_id").agg(sum($"tf").as("dl"))
    val stats = dl.agg(count(lit(1)).as("n_docs"), sum($"dl").as("t_total"))
    val qterms = tf.groupBy($"tok")
      .agg(sum($"tf").as("ctot"), count(lit(1)).as("df"))
      .orderBy($"ctot".desc, $"tok".asc).limit(Bm25QTerms) // O(Q) TakeOrdered
    val scored = tf.join(broadcast(qterms), "tok")
      .join(dl, "doc_id")
      .crossJoin(broadcast(stats))
      .withColumn("idf_micro",
        round(log(lit(1.0) + ($"n_docs" - $"df" + 0.5) / ($"df" + 0.5)) * 1e6)
          .cast("bigint"))
      .withColumn("term_score", expr(
        "idf_micro * tf * 22 * t_total div (10 * tf * t_total + 3 * t_total + 9 * dl * n_docs)"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_qterms"), sum($"term_score").as("bm25_micro"))
      .orderBy($"bm25_micro".desc, $"doc_id".asc).limit(Bm25TopDocs)
    // rank the Bm25TopDocs-row result (single tiny partition by design)
    scored.withColumn("rk",
      row_number().over(Window.orderBy($"bm25_micro".desc, $"doc_id".asc))
        .cast("bigint"))
  }

  /** BPE merge-pair mining (Sennrich et al. 2016) — the inner loop of
    * tokenizer-vocabulary training, distributed: count adjacent symbol
    * pairs over the word-frequency table (NOT per occurrence in the
    * corpus — per distinct word × its frequency, the standard BPE
    * formulation that makes the hot loop |vocab|-sized instead of
    * corpus-sized), apply the winning merge, recount. Two rounds here
    * (the driver-loop shape shared with [[Clustering]]'s Lloyd: the
    * per-round reduction is a bounded scalar — one winning pair — and
    * the heavy count is map-side-combined over the word table).
    * Determinism: ties break (count desc, pair asc); the merge applies
    * as a non-overlapping left-to-right delimiter-string replace run
    * TWICE — consecutive occurrences share a delimiter space, so one
    * pass under-merges every second occurrence; both engines' replace
    * has identical continue-after-match semantics, and the double pass
    * closes the odd occurrences (real BPE trainers use a pair-index
    * heap; the replace form is the declarative-plan equivalent).
    * Output: the top-20 pairs AFTER the first merge (rank, count) —
    * the second round's candidate table, which any further rounds
    * would consume. */
  def bpePairs(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val words = Tables.documents(s, d)
      .select(explode(split(lower($"text"), " ")).as("w"))
      .where($"w" =!= "")
      .groupBy($"w").agg(count(lit(1)).as("freq"))
    // |vocab|-sized, and consumed by TWO actions (the top-1 pick and the
    // post-merge recount): checkpoint so the corpus scan + word
    // aggregate runs once, not once per action
    val seqs = words.select(
      // filter the trailing empty element Java's limit(-1) split("")
      // emits — the oracle's string_split_regex has no such element, and
      // leaving it in relies on trim() + space-delimited patterns to
      // wash the asymmetry out (round-8 ADVICE)
      concat(lit(" "), array_join(filter(split($"w", ""), c => c =!= ""), " "),
        lit(" ")).as("seq"),
      $"freq").localCheckpoint(eager = false)
    def pairCounts(sq: DataFrame): DataFrame = sq
      .select(split(trim($"seq"), " ").as("l"), $"freq")
      .select(explode(arrays_zip(
        slice($"l", lit(1), size($"l") - 1).as("sym"),
        slice($"l", lit(2), size($"l") - 1).as("nxt"))).as("p"), $"freq")
      .select(concat($"p.sym", lit(" "), $"p.nxt").as("pair"), $"freq")
      .groupBy($"pair").agg(sum($"freq").as("cnt"))
    val top1 = pairCounts(seqs)
      .orderBy($"cnt".desc, $"pair".asc).limit(1)
      .select($"pair").head().getString(0) // bounded driver scalar: THE pair
    val merged = top1.replace(" ", "")
    // column-function replace, NOT an interpolated expr string: a quote
    // or backslash in the winning pair must stay data, never SQL text
    def applyMerge(c: Column): Column =
      org.apache.spark.sql.functions.replace(c,
        lit(s" $top1 "), lit(s" $merged "))
    val applied = seqs.select(applyMerge(applyMerge($"seq")).as("seq"), $"freq")
    // TakeOrdered to 20 rows FIRST, then rank the tiny result (the bm25
    // discipline — no global single-partition window over the vocab)
    pairCounts(applied)
      .orderBy($"cnt".desc, $"pair".asc).limit(20)
      .withColumn("rk", row_number().over(
        Window.orderBy($"cnt".desc, $"pair".asc)).cast("bigint"))
      .select($"pair", $"cnt", $"rk")
  }

  /** RAKE phrase-length knob: candidate phrases longer than this many
    * tokens are dropped (the standard RAKE max-words parameter). Also
    * load-bearing for scale — it bounds each phrase instance's degree
    * contribution and the per-phrase word fanout at a constant. */
  val RakeMaxWords = 4

  /** RAKE keyphrase extraction (Rose et al. 2010) — the unsupervised
    * keyword miner curation pipelines run before any topic labeling:
    * candidate phrases are maximal runs of non-stopword tokens (≤
    * [[RakeMaxWords]]), each word scores deg(w)/freq(w) where freq
    * counts phrase instances containing w and deg additionally weights
    * by phrase length, and a phrase scores the sum of its word scores.
    * Exact integers end-to-end: word score as floor ppm (truncating div
    * on non-negatives ≡ DuckDB `//`), phrase score as the ppm sum —
    * every instance of the same phrase text scores identically (law in
    * MlFeaturesSpec), so the emitted score is min = max over instances.
    * Top 20 by (score desc, phrase asc) — a total order.
    *
    * Scale shape: islands come from ONE doc-partitioned window (running
    * non-stop count ⇒ island id without per-flag renumbering), and the
    * phrase and instance aggregates both reuse that doc_id exchange
    * (doc-prefixed keys). The word-stat join is the tf-idf class: a
    * |vocab|-keyed shuffle join, never broadcast (vocab grows with the
    * corpus), and the final ranking is a distributed top-20
    * TakeOrdered, never a global sort. */
  def rake(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    val stop = StopwordSets.head._2 // the "en" marker set
    val w = Window.partitionBy($"doc_id").orderBy($"pos")
    val tok = Tables.documents(s, d)
      .select($"doc_id", posexplode(split(lower($"text"), " ")).as(Seq("pos", "tok")))
      .withColumn("is_stop", $"tok".isin(stop.map(lit): _*))
      .withColumn("grp", $"pos" - sum((!$"is_stop").cast("bigint")).over(w))
    val phr = tok.where(!$"is_stop")
      .groupBy($"doc_id", $"grp")
      .agg(
        concat_ws(" ", transform(sort_array(collect_list(struct($"pos", $"tok"))),
          e => e("tok"))).as("phrase"),
        count(lit(1)).as("plen"))
      .where($"plen" <= RakeMaxWords)
    val pw = phr.select($"doc_id", $"grp", $"phrase", $"plen",
      explode(split($"phrase", " ")).as("tok"))
      // consumed by the word-stat aggregate AND the score join-back
      .localCheckpoint(eager = false)
    val ws = pw.groupBy($"tok")
      .agg((sum($"plen") * 1000000L).as("deg6"), count(lit(1)).as("freq"))
      .select($"tok", call_function("div", $"deg6", $"freq").as("score_ppm"))
    val inst = pw.join(ws, "tok")
      .groupBy($"doc_id", $"grp", $"phrase")
      .agg(sum($"score_ppm").as("inst_score"))
    inst.groupBy($"phrase")
      .agg(count(lit(1)).as("n"), min($"inst_score").as("score_ppm"))
      .orderBy($"score_ppm".desc, $"phrase".asc)
      .limit(20)
  }

  val oracle: Map[String, String] = {
    val stopList = StopwordSets.map { case (l, ws) =>
      l -> ws.map(w => s"'$w'").mkString("[", ", ", "]")
    }.toMap
    def hits(l: String) = s"len(list_filter(toks, t -> list_contains(${stopList(l)}, t)))"
    Map(
      // independent island detection (per-flag row_number gaps vs the
      // engine's running non-stop count) and an independent per-instance
      // scoring path (sum-over-instances ÷ n vs the engine's min) — the
      // instance-score-uniformity LAW is what makes ÷ n exact
      "text_rake" -> s"""
        WITH tl AS (SELECT doc_id, string_split(lower(text), ' ') AS toks
                    FROM documents),
        tok AS (
          SELECT doc_id, toks[CAST(i AS INT)] AS tok, CAST(i AS BIGINT) AS pos
          FROM tl, LATERAL unnest(range(1, len(toks) + 1)) AS r(i)),
        w AS (
          SELECT doc_id, tok, pos,
                 pos - row_number() OVER (PARTITION BY doc_id,
                     list_contains(${stopList("en")}, tok) ORDER BY pos) AS grp,
                 list_contains(${stopList("en")}, tok) AS is_stop
          FROM tok),
        phr AS (
          SELECT doc_id, grp, string_agg(tok, ' ' ORDER BY pos) AS phrase,
                 count(*) AS plen
          FROM w WHERE NOT is_stop
          GROUP BY doc_id, grp
          HAVING count(*) <= $RakeMaxWords),
        pw AS (
          SELECT doc_id, grp, phrase, plen, u.tok
          FROM phr, LATERAL unnest(string_split(phrase, ' ')) AS u(tok)),
        ws AS (
          SELECT tok, CAST(sum(plen) * 1000000 // count(*) AS BIGINT) AS score_ppm
          FROM pw GROUP BY tok),
        inst AS (
          SELECT p.doc_id, p.grp, p.phrase,
                 CAST(sum(ws.score_ppm) AS BIGINT) AS inst_score
          FROM pw p JOIN ws ON ws.tok = p.tok
          GROUP BY 1, 2, 3)
        SELECT phrase, count(*) AS n,
               CAST(min(inst_score) AS BIGINT) AS score_ppm
        FROM inst GROUP BY phrase
        ORDER BY score_ppm DESC, phrase ASC LIMIT 20""",

      "text_heavy_hitters" -> """
        WITH t2 AS (
          SELECT tok FROM (
            SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents)
          WHERE tok <> '')
        SELECT tok, count(*) AS cnt FROM t2
        GROUP BY tok
        HAVING count(*) * 40 > (SELECT count(*) FROM t2)""",

      "text_bm25" -> s"""
        WITH tf AS (
          SELECT doc_id, tok, count(*) AS tf FROM (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
            FROM documents)
          WHERE tok <> '' GROUP BY 1, 2),
        dl AS (SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1),
        st AS (SELECT count(*) AS n_docs, sum(dl) AS t_total FROM dl),
        qt AS (SELECT tok, count(*) AS df FROM tf GROUP BY tok
               ORDER BY sum(tf) DESC, tok ASC LIMIT $Bm25QTerms),
        sc AS (
          SELECT tf.doc_id, count(*) AS n_qterms,
                 sum(CAST(round(ln(1 + (n_docs - df + 0.5) / (df + 0.5))
                                * 1000000) AS BIGINT)
                     * tf * 22 * t_total
                     // (10 * tf * t_total + 3 * t_total + 9 * dl * n_docs))
                   AS bm25_micro
          FROM tf JOIN qt USING (tok)
          JOIN dl ON tf.doc_id = dl.doc_id CROSS JOIN st
          GROUP BY tf.doc_id)
        SELECT doc_id, n_qterms, CAST(bm25_micro AS BIGINT) AS bm25_micro,
               row_number() OVER (ORDER BY bm25_micro DESC, doc_id ASC) AS rk
        FROM sc ORDER BY bm25_micro DESC, doc_id ASC LIMIT $Bm25TopDocs""",

      "text_logprob" -> """
        WITH tok AS (
          SELECT doc_id, tok FROM (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
            FROM documents)
          WHERE tok <> ''),
        tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
        freq AS (SELECT tok, sum(tf) AS c FROM tf GROUP BY 1),
        tot AS (SELECT sum(c) AS n_total FROM freq)
        SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_toks,
               CAST(sum(tf * li) // sum(tf) AS BIGINT) AS mean_neglogp_unat
        FROM (SELECT doc_id, tf,
                     CAST(round(-ln(CAST(c AS DOUBLE) / CAST(n_total AS DOUBLE))
                                * 1000000) AS BIGINT) AS li
              FROM tf JOIN freq USING (tok) CROSS JOIN tot)
        GROUP BY doc_id""",

      "text_chunk" -> """
        WITH tk AS (
          SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS t
          FROM documents),
        c AS (
          SELECT doc_id, t,
                 CASE WHEN len(t) <= 32 THEN 1
                      ELSE CAST(ceil((len(t) - 32) / 24.0) AS INT) + 1 END AS nc
          FROM tk)
        SELECT doc_id, CAST(i AS BIGINT) AS chunk_id,
               CAST(len(t[CAST(i*24+1 AS INT) : CAST(i*24+32 AS INT)]) AS BIGINT)
                 AS n_chunk_toks,
               array_to_string(t[CAST(i*24+1 AS INT) : CAST(i*24+32 AS INT)], ' ')
                 AS chunk_text
        FROM c JOIN generate_series(0, 4096) gs(i) ON i < nc""",

      "text_inverted_index" -> s"""
        WITH tk AS (
          SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS t
          FROM documents),
        g AS (
          SELECT DISTINCT doc_id, t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS gram
          FROM tk JOIN generate_series(1, $MaxDocTokens) gs(i) ON i <= len(t) - 1),
        r AS (
          SELECT gram, doc_id,
                 row_number() OVER (PARTITION BY gram ORDER BY doc_id) AS rk
          FROM g)
        SELECT gram, count(*) AS df,
               array_to_string(list_sort(list(doc_id) FILTER (rk <= 20)), '|')
                 AS postings_head
        FROM r GROUP BY gram HAVING count(*) >= 2""",

      "text_repetition" -> s"""
        WITH tk AS (SELECT doc_id, string_split(lower(text), ' ') AS t FROM documents),
        topf AS (
          SELECT doc_id, max(c) AS maxc FROM (
            SELECT doc_id, w, count(*) AS c
            FROM (SELECT doc_id, unnest(t) AS w FROM tk) GROUP BY doc_id, w)
          GROUP BY doc_id),
        bistat AS (
          SELECT doc_id, count(*) AS nb, count(DISTINCT g) AS nbd FROM (
            SELECT doc_id, t[CAST(i AS INT)] || ' ' || t[CAST(i AS INT) + 1] AS g
            FROM tk JOIN generate_series(1, $MaxDocTokens) gs(i) ON i <= len(t) - 1)
          GROUP BY doc_id)
        SELECT tk.doc_id, len(t) AS n_toks,
               round(COALESCE(1.0 - CAST(nbd AS DOUBLE) / nb, 0.0), 6) AS dup_bigram_frac,
               round(CAST(maxc AS DOUBLE) / len(t), 6) AS top_tok_frac
        FROM tk
        JOIN topf ON tk.doc_id = topf.doc_id
        LEFT JOIN bistat ON tk.doc_id = bistat.doc_id""",

      "text_bpe_pairs" -> """
        WITH words AS (
          SELECT lower(w) AS w, count(*) AS freq
          FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
          WHERE w <> ''
          GROUP BY 1),
        seqs AS (
          SELECT ' ' || array_to_string(string_split_regex(w, ''), ' ') || ' ' AS seq,
                 freq
          FROM words),
        pairs1 AS (
          SELECT s.sym || ' ' || s.nxt AS pair, CAST(sum(freq) AS BIGINT) AS cnt
          FROM (
            SELECT freq,
                   unnest(l[1:len(l)-1]) AS sym,
                   unnest(l[2:len(l)])   AS nxt
            FROM (SELECT string_split(trim(seq), ' ') AS l, freq FROM seqs)
          ) s
          GROUP BY 1),
        top1 AS (
          SELECT pair, replace(pair, ' ', '') AS merged
          FROM pairs1 ORDER BY cnt DESC, pair ASC LIMIT 1),
        -- double replace: consecutive occurrences share a delimiter
        -- space, so one non-overlapping pass under-merges every second
        -- one (same continue-after-match semantics as the engine)
        seqs2 AS (
          SELECT replace(replace(seq, ' ' || t.pair || ' ', ' ' || t.merged || ' '),
                         ' ' || t.pair || ' ', ' ' || t.merged || ' ') AS seq,
                 freq
          FROM seqs CROSS JOIN top1 t),
        pairs2 AS (
          SELECT s.sym || ' ' || s.nxt AS pair, CAST(sum(freq) AS BIGINT) AS cnt
          FROM (
            SELECT freq,
                   unnest(l[1:len(l)-1]) AS sym,
                   unnest(l[2:len(l)])   AS nxt
            FROM (SELECT string_split(trim(seq), ' ') AS l, freq FROM seqs2)
          ) s
          GROUP BY 1)
        SELECT pair, cnt, rk FROM (
          SELECT pair, cnt, row_number() OVER (ORDER BY cnt DESC, pair ASC) AS rk
          FROM pairs2) t
        WHERE rk <= 20""",

      "text_pack" -> """
        WITH tk AS (
          SELECT doc_id, doc_id % 32 AS shard,
                 len(string_split(lower(text), ' ')) AS n_toks
          FROM documents)
        SELECT doc_id, shard, n_toks,
               CAST(floor((sum(n_toks) OVER (PARTITION BY shard ORDER BY doc_id)
                           - n_toks) / 512.0) AS BIGINT) AS bin_id
        FROM tk""",

      "text_tokens" -> s"""
        SELECT doc_id,
               len(regexp_extract_all(lower(text), '${WordCount.TokenPattern.replace("'", "''")}')) AS n_regex_toks,
               len(string_split(lower(text), ' ')) AS n_ws_toks,
               len(list_distinct(string_split(lower(text), ' '))) AS n_distinct
        FROM documents""",

      "text_langid" -> s"""
        SELECT doc_id, c_en, c_de, c_es, c_fr, c_zh,
               CASE
                 WHEN c_en = best AND best > 0 THEN 'en'
                 WHEN c_de = best AND best > 0 THEN 'de'
                 WHEN c_es = best AND best > 0 THEN 'es'
                 WHEN c_fr = best AND best > 0 THEN 'fr'
                 WHEN c_zh = best AND best > 0 THEN 'zh'
                 ELSE 'und' END AS lang_pred
        FROM (
          SELECT doc_id, c_en, c_de, c_es, c_fr, c_zh,
                 greatest(c_en, c_de, c_es, c_fr, c_zh) AS best
          FROM (
            SELECT doc_id,
                   ${hits("en")} AS c_en, ${hits("de")} AS c_de,
                   ${hits("es")} AS c_es, ${hits("fr")} AS c_fr,
                   ${hits("zh")} AS c_zh
            FROM (SELECT doc_id, string_split(lower(text), ' ') AS toks FROM documents) t
          ) s
        ) b""",

      "text_quality" -> s"""
        SELECT doc_id, n_chars, n_toks,
               round(CAST(n_chars - (n_toks - 1) AS DOUBLE) / n_toks, 6) AS avg_tok_len,
               round(CAST(punct AS DOUBLE) / n_chars, 6) AS punct_ratio,
               round(CAST(stop AS DOUBLE) / n_toks, 6) AS stopword_ratio,
               (n_chars >= 100 AND n_toks >= 20
                AND round(CAST(stop AS DOUBLE) / n_toks, 6) >= 0.05) AS keep
        FROM (
          SELECT doc_id, length(text) AS n_chars,
                 len(string_split(lower(text), ' ')) AS n_toks,
                 len(regexp_extract_all(text, '[^a-z0-9 ]')) AS punct,
                 len(list_filter(string_split(lower(text), ' '),
                     t -> list_contains(${stopList("en")}, t))) AS stop
          FROM documents) t""",

      "text_vocab_coverage" -> """
        WITH t AS (
          SELECT unnest(string_split(lower(text), ' ')) AS tok FROM documents),
        f AS (SELECT tok FROM t WHERE tok <> ''),
        c AS (SELECT tok, count(*) AS n FROM f GROUP BY tok),
        r AS (SELECT tok, n,
                     row_number() OVER (ORDER BY n DESC, tok ASC) AS rk
              FROM c),
        cum AS (SELECT rk,
                       CAST(sum(n) OVER (ORDER BY rk) AS BIGINT) AS covered
                FROM r),
        tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM c)
        SELECT CAST(rk AS BIGINT) AS k, covered, total,
               (covered * 1000000) // total AS coverage_ppm
        FROM cum, tot WHERE rk IN (1, 2, 4, 8, 16, 31)""",

      // zlib byte counts are not SQL-replayable; the oracle asserts the
      // deterministic flags (ASCII corpus: octet_length == length)
      "text_compression_ratio" -> """
        SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
               CAST(CASE WHEN length(text) >= 200 THEN 1 ELSE -1 END
                    AS BIGINT) AS compressible,
               CAST(1 AS BIGINT) AS bound_ok
        FROM documents""",

      "text_readability" -> """
        SELECT doc_id, n_words, n_sents, n_vgroups,
               206835 - (1015 * n_words) // n_sents
                      - (84600 * n_vgroups) // greatest(n_words, 1)
                 AS score_milli,
               CAST((206835 - (1015 * n_words) // n_sents
                      - (84600 * n_vgroups) // greatest(n_words, 1))
                    >= 60000 AS BIGINT) AS readable
        FROM (
          SELECT doc_id,
                 len(regexp_extract_all(lower(text), '[a-z]+')) AS n_words,
                 greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS n_sents,
                 len(regexp_extract_all(lower(text), '[aeiouy]+')) AS n_vgroups
          FROM documents) t""",

      "text_bpe" -> s"""
        SELECT doc_id,
               len(segs) AS n_bpe,
               len(list_distinct(segs)) AS n_bpe_distinct,
               round(CAST(length(text) AS DOUBLE) / len(segs), 6) AS chars_per_tok
        FROM (SELECT doc_id, text,
                     regexp_extract_all(lower(text), '${BpePattern.replace("'", "''")}') AS segs
              FROM documents) t""",

      "text_winnow" -> s"""
        WITH h AS (
          SELECT doc_id, i,
                 md5(substr(t, CAST(i AS INT), 8)) AS hh,
                 length(t) - 7 AS n
          FROM (SELECT doc_id, lower(text) AS t FROM documents) d
          JOIN generate_series(1, $MaxDocChars) g(i) ON i <= length(t) - 7
          WHERE length(t) >= 11),
        w AS (
          SELECT doc_id, i, n,
                 min(hh) OVER (PARTITION BY doc_id ORDER BY i
                               ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS f
          FROM h)
        SELECT DISTINCT doc_id, f AS fp FROM w WHERE i <= n - 3""",

      "text_entropy" -> """
        WITH tok AS (
          SELECT doc_id, tok FROM (
            SELECT doc_id, unnest(string_split(lower(text), ' ')) AS tok
            FROM documents)
          WHERE tok <> ''),
        tf AS (SELECT doc_id, tok, count(*) AS tf FROM tok GROUP BY 1, 2),
        x AS (
          SELECT doc_id, tf, sum(tf) OVER (PARTITION BY doc_id) AS n
          FROM tf)
        SELECT doc_id, CAST(max(n) AS BIGINT) AS n_toks,
               count(*) AS n_distinct,
               CAST(sum(CAST(round(tf * ln(CAST(n AS DOUBLE) / tf) * 1000000)
                        AS BIGINT)) // max(n) AS BIGINT) AS entropy_unat
        FROM x GROUP BY doc_id""",

      "text_bigram_lm" -> s"""
        WITH toks AS (
          SELECT doc_id, list_filter(string_split(lower(text), ' '), t -> t <> '') AS tk
          FROM documents),
        g AS (
          SELECT doc_id, tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1] AS bg
          FROM toks JOIN generate_series(1, $MaxDocTokens) g(i) ON i <= len(tk) - 1),
        tfb AS (SELECT doc_id, bg, count(*) AS tf FROM g GROUP BY 1, 2),
        cnt AS (SELECT bg, sum(tf) AS cb FROM tfb GROUP BY 1),
        lft AS (SELECT string_split(bg, ' ')[1] AS w1, bg, cb,
                       sum(cb) OVER (PARTITION BY string_split(bg, ' ')[1]) AS cl
                FROM cnt),
        voc AS (SELECT count(DISTINCT tok) AS v
                FROM (SELECT unnest(string_split(bg, ' ')) AS tok FROM cnt))
        SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_bigrams,
               CAST(sum(tf * li) // sum(tf) AS BIGINT) AS mean_neglogp_unat
        FROM (SELECT doc_id, tf,
                     CAST(round(-ln(CAST(cb + 1 AS DOUBLE) / CAST(cl + v AS DOUBLE))
                                * 1000000) AS BIGINT) AS li
              FROM tfb JOIN lft USING (bg) CROSS JOIN voc)
        GROUP BY doc_id""",

      "text_html_strip" -> """
        SELECT doc_id,
               CAST(length('doc' || CAST(doc_id AS VARCHAR)) + 1
                    + length(trim(text)) AS BIGINT) AS clean_len,
               CAST(11 AS BIGINT) AS n_tags,
               CAST(1 AS BIGINT) AS recovered_ok
        FROM documents""",

      // char-window replay of the ExactSubstr rule: a position is covered
      // iff some length-50 window through it has df >= 2 and the doc is
      // not the window's min owner — prototyped against an independent
      // python reference before landing
      "text_dedup_substring" -> s"""
        WITH t AS (SELECT doc_id, text, length(text) AS len FROM documents),
        occ AS (
          SELECT doc_id, CAST(i AS INT) AS pos,
                 substr(text, CAST(i AS INT), $SubstrN) AS g
          FROM t JOIN generate_series(1, $MaxDocChars) s(i)
            ON i <= len - ${SubstrN - 1}),
        prof AS (SELECT g, min(doc_id) AS owner, count(DISTINCT doc_id) AS df
                 FROM occ GROUP BY g),
        removed AS (
          SELECT o.doc_id, o.pos FROM occ o JOIN prof p USING (g)
          WHERE p.df >= 2 AND o.doc_id <> p.owner),
        cov AS (SELECT DISTINCT doc_id, pos + CAST(j AS INT) AS idx
                FROM removed, generate_series(0, ${SubstrN - 1}) r(j)),
        spans AS (
          SELECT doc_id, count(*) AS removed_chars,
                 CAST(sum(new_span) AS BIGINT) AS n_spans
          FROM (SELECT doc_id, idx,
                  CASE WHEN lag(idx) OVER (PARTITION BY doc_id ORDER BY idx) = idx - 1
                       THEN 0 ELSE 1 END AS new_span FROM cov) x
          GROUP BY doc_id),
        cleaned AS (
          SELECT t.doc_id,
                 string_agg(substr(t.text, CAST(i AS INT), 1), '' ORDER BY i) AS cleaned
          FROM t JOIN generate_series(1, $MaxDocChars) s(i) ON i <= len
          LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.idx = i
          WHERE c.idx IS NULL
          GROUP BY t.doc_id)
        SELECT t.doc_id, CAST(t.len AS BIGINT) AS n_chars,
               coalesce(sp.n_spans, 0) AS n_spans,
               CAST(coalesce(sp.removed_chars, 0) AS BIGINT) AS removed_chars,
               coalesce(cl.cleaned, '') AS cleaned
        FROM t LEFT JOIN spans sp USING (doc_id)
        LEFT JOIN cleaned cl USING (doc_id)""",

      // era-aware char-window rule restated from scratch (the
      // text_dedup_spans_incremental pattern at the character tier):
      // base-present windows always remove delta occurrences, delta-
      // internal boilerplate falls to the min delta doc; only delta
      // rows are emitted (the published base corpus is invariant)
      "text_dedup_substring_incremental" -> s"""
        WITH bk AS (SELECT doc_id, ${Maintenance.hexBucketSql} AS bkt FROM documents),
        t AS (SELECT d.doc_id, d.text, length(d.text) AS len, bk.bkt
              FROM documents d JOIN bk USING (doc_id)),
        occ AS (
          SELECT doc_id, bkt, CAST(i AS INT) AS pos,
                 substr(text, CAST(i AS INT), $SubstrN) AS g
          FROM t JOIN generate_series(1, $MaxDocChars) s(i)
            ON i <= len - ${SubstrN - 1}),
        baseg AS (SELECT DISTINCT g FROM occ WHERE bkt < 90),
        docc AS (SELECT doc_id, pos, g FROM occ WHERE bkt >= 90),
        prof AS (SELECT g, min(doc_id) AS downer, count(DISTINCT doc_id) AS ddf
                 FROM docc GROUP BY g),
        removed AS (
          SELECT d.doc_id, d.pos
          FROM docc d JOIN prof p USING (g) LEFT JOIN baseg b USING (g)
          WHERE b.g IS NOT NULL OR (p.ddf >= 2 AND d.doc_id <> p.downer)),
        cov AS (SELECT DISTINCT doc_id, pos + CAST(j AS INT) AS idx
                FROM removed, generate_series(0, ${SubstrN - 1}) r(j)),
        spans AS (
          SELECT doc_id, count(*) AS removed_chars,
                 CAST(sum(new_span) AS BIGINT) AS n_spans
          FROM (SELECT doc_id, idx,
                  CASE WHEN lag(idx) OVER (PARTITION BY doc_id ORDER BY idx) = idx - 1
                       THEN 0 ELSE 1 END AS new_span FROM cov) x
          GROUP BY doc_id),
        cleaned AS (
          SELECT t.doc_id,
                 string_agg(substr(t.text, CAST(i AS INT), 1), '' ORDER BY i) AS cleaned
          FROM t JOIN generate_series(1, $MaxDocChars) s(i) ON i <= len
          LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.idx = i
          WHERE c.idx IS NULL AND t.bkt >= 90
          GROUP BY t.doc_id)
        SELECT t.doc_id, CAST(t.len AS BIGINT) AS n_chars,
               coalesce(sp.n_spans, 0) AS n_spans,
               CAST(coalesce(sp.removed_chars, 0) AS BIGINT) AS removed_chars,
               coalesce(cl.cleaned, '') AS cleaned
        FROM t LEFT JOIN spans sp USING (doc_id)
        LEFT JOIN cleaned cl USING (doc_id)
        WHERE t.bkt >= 90""",

      "text_dedup_spans" -> s"""
        WITH toks AS (
          SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        occ AS (
          SELECT doc_id, CAST(i - 1 AS INT) AS pos,
                 array_to_string(tk[CAST(i AS INT):CAST(i AS INT) + 7], ' ') AS g
          FROM toks JOIN generate_series(1, $MaxDocTokens) s(i) ON i <= len(tk) - 7),
        prof AS (
          SELECT g, min(doc_id) AS owner FROM occ
          GROUP BY g HAVING count(DISTINCT doc_id) >= 2),
        removed AS (
          SELECT o.doc_id, o.pos FROM occ o JOIN prof p USING (g)
          WHERE o.doc_id <> p.owner),
        cov AS (
          SELECT DISTINCT doc_id, pos + CAST(j AS INT) AS idx
          FROM removed, generate_series(0, 7) r(j)),
        spans AS (
          SELECT doc_id, count(*) AS removed_tokens,
                 CAST(sum(new_span) AS BIGINT) AS n_spans
          FROM (SELECT doc_id, idx,
                  CASE WHEN lag(idx) OVER (PARTITION BY doc_id ORDER BY idx) = idx - 1
                       THEN 0 ELSE 1 END AS new_span FROM cov) x
          GROUP BY doc_id),
        cleaned AS (
          SELECT t.doc_id, string_agg(t.tk[CAST(i AS INT)], ' ' ORDER BY i) AS cleaned
          FROM toks t JOIN generate_series(1, $MaxDocTokens) s(i) ON i <= len(t.tk)
          LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.idx = i - 1
          WHERE c.idx IS NULL
          GROUP BY t.doc_id)
        SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
               coalesce(sp.n_spans, 0) AS n_spans,
               CAST(coalesce(sp.removed_tokens, 0) AS BIGINT) AS removed_tokens,
               coalesce(cl.cleaned, '') AS cleaned
        FROM toks t
        LEFT JOIN spans sp USING (doc_id)
        LEFT JOIN cleaned cl USING (doc_id)""",

      "text_shift_tv" -> s"""
        WITH bk AS (SELECT doc_id, ${Maintenance.hexBucketSql} AS bkt FROM documents),
        tk AS (
          SELECT (bk.bkt >= 90) AS isd,
                 unnest(string_split(lower(d.text), ' ')) AS token
          FROM documents d JOIN bk USING (doc_id)),
        prof AS (
          SELECT token,
                 CAST(sum(CASE WHEN isd THEN 0 ELSE 1 END) AS BIGINT) AS n_base,
                 CAST(sum(CASE WHEN isd THEN 1 ELSE 0 END) AS BIGINT) AS n_delta
          FROM tk GROUP BY token),
        tot AS (SELECT CAST(sum(n_base) AS HUGEINT) AS nb,
                       CAST(sum(n_delta) AS HUGEINT) AS nd FROM prof),
        c AS (
          SELECT token, n_base, n_delta,
                 abs(CAST(n_base AS HUGEINT) * nd - CAST(n_delta AS HUGEINT) * nb) AS num,
                 nb, nd
          FROM prof, tot),
        tv AS (SELECT CAST(CASE WHEN max(nb) = 0 OR max(nd) = 0 THEN NULL
                      ELSE sum(num) * 1000000 // (2 * max(nb) * max(nd)) END AS BIGINT) AS tv_ppm
               FROM c)
        SELECT token, n_base, n_delta,
               CAST(CASE WHEN nb = 0 OR nd = 0 THEN NULL
                    ELSE num * 1000000 // (2 * nb * nd) END AS BIGINT) AS contrib_ppm,
               tv.tv_ppm
        FROM c, tv ORDER BY num DESC, token LIMIT 10""",

      // era-aware rule restated from scratch: base-present grams always
      // remove delta occurrences (owner is base-era); delta-internal
      // boilerplate falls to the min delta doc — the published base
      // corpus is invariant, so only delta rows are emitted
      "text_dedup_spans_incremental" -> s"""
        WITH bk AS (SELECT doc_id, ${Maintenance.hexBucketSql} AS bkt FROM documents),
        toks AS (
          SELECT d.doc_id, string_split(lower(d.text), ' ') AS tk, bk.bkt
          FROM documents d JOIN bk USING (doc_id)),
        occ AS (
          SELECT doc_id, bkt, CAST(i - 1 AS INT) AS pos,
                 array_to_string(tk[CAST(i AS INT):CAST(i AS INT) + 7], ' ') AS g
          FROM toks JOIN generate_series(1, $MaxDocTokens) s(i) ON i <= len(tk) - 7),
        baseg AS (SELECT DISTINCT g FROM occ WHERE bkt < 90),
        docc AS (SELECT doc_id, pos, g FROM occ WHERE bkt >= 90),
        prof AS (
          SELECT g, min(doc_id) AS downer, count(DISTINCT doc_id) AS ddf
          FROM docc GROUP BY g),
        removed AS (
          SELECT d.doc_id, d.pos
          FROM docc d JOIN prof p USING (g) LEFT JOIN baseg b USING (g)
          WHERE b.g IS NOT NULL OR (p.ddf >= 2 AND d.doc_id <> p.downer)),
        cov AS (
          SELECT DISTINCT doc_id, pos + CAST(j AS INT) AS idx
          FROM removed, generate_series(0, 7) r(j)),
        spans AS (
          SELECT doc_id, count(*) AS removed_tokens,
                 CAST(sum(new_span) AS BIGINT) AS n_spans
          FROM (SELECT doc_id, idx,
                  CASE WHEN lag(idx) OVER (PARTITION BY doc_id ORDER BY idx) = idx - 1
                       THEN 0 ELSE 1 END AS new_span FROM cov) x
          GROUP BY doc_id),
        cleaned AS (
          SELECT t.doc_id, string_agg(t.tk[CAST(i AS INT)], ' ' ORDER BY i) AS cleaned
          FROM toks t JOIN generate_series(1, $MaxDocTokens) s(i) ON i <= len(t.tk)
          LEFT JOIN cov c ON c.doc_id = t.doc_id AND c.idx = i - 1
          WHERE c.idx IS NULL AND t.bkt >= 90
          GROUP BY t.doc_id)
        SELECT t.doc_id, CAST(len(t.tk) AS BIGINT) AS n_tokens,
               coalesce(sp.n_spans, 0) AS n_spans,
               CAST(coalesce(sp.removed_tokens, 0) AS BIGINT) AS removed_tokens,
               coalesce(cl.cleaned, '') AS cleaned
        FROM toks t
        LEFT JOIN spans sp USING (doc_id)
        LEFT JOIN cleaned cl USING (doc_id)
        WHERE t.bkt >= 90""",

      "text_dup_passages" -> s"""
        WITH toks AS (
          SELECT doc_id, string_split(lower(text), ' ') AS tk FROM documents),
        sh AS (
          SELECT DISTINCT doc_id,
                 array_to_string(tk[CAST(i AS INT):CAST(i AS INT) + 7], ' ') AS s
          FROM toks JOIN generate_series(1, $MaxDocTokens) g(i) ON i <= len(tk) - 7),
        df AS (SELECT s, count(*) AS df FROM sh GROUP BY 1)
        SELECT doc_id, count(*) AS n_shingles,
               CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
               CAST(sum(CASE WHEN df >= 2 THEN 1 ELSE 0 END) * 1000000 // count(*)
                 AS BIGINT) AS dup_ppm
        FROM sh JOIN df USING (s)
        GROUP BY doc_id""",

      // generated unrolled replay of the identical integer recurrence
      // (pr(u) // deg(u) and (850000·Σ) // 10⁶ truncate on both engines;
      // HUGEINT ≡ the engine's DECIMAL(38,0) multiply-sum)
      "text_textrank" -> s"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split(lower(text), ' '),
                   t -> t <> '' AND NOT list_contains(${stopList("en")}, t)) AS tk
          FROM documents),
        adj AS (
          SELECT least(tk[CAST(i AS INT)], tk[CAST(i AS INT) + 1]) AS lo,
                 greatest(tk[CAST(i AS INT)], tk[CAST(i AS INT) + 1]) AS hi
          FROM toks JOIN generate_series(1, $MaxDocTokens) g(i) ON i <= len(tk) - 1
          WHERE tk[CAST(i AS INT)] <> tk[CAST(i AS INT) + 1]),
        e AS (SELECT DISTINCT lo, hi FROM adj),
        nbr AS (SELECT lo AS w, hi AS u FROM e UNION ALL SELECT hi, lo FROM e),
        deg AS (SELECT w, count(*) AS deg FROM nbr GROUP BY w),
        pr0 AS (SELECT w, CAST(1000000 AS BIGINT) AS pr FROM deg)${
          (1 to 3).map { k => s""",
        c$k AS (
          SELECT n.w AS w,
                 CAST(sum(CAST(p.pr AS HUGEINT) // d.deg) AS HUGEINT) AS contrib
          FROM nbr n JOIN pr${k - 1} p ON p.w = n.u JOIN deg d ON d.w = n.u
          GROUP BY n.w),
        pr$k AS (
          SELECT d.w,
                 CAST(150000 + (850000 * coalesce(c.contrib, 0)) // 1000000 AS BIGINT) AS pr
          FROM deg d LEFT JOIN c$k c ON c.w = d.w)"""
          }.mkString}
        SELECT p.w AS word, d.deg AS degree, p.pr AS pr_ppm
        FROM pr3 p JOIN deg d USING (w)
        ORDER BY p.pr DESC, p.w LIMIT 20""",

      "text_collocations" -> s"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split(lower(text), ' '),
                   t -> t <> '' AND NOT list_contains(${stopList("en")}, t)) AS tk
          FROM documents),
        g AS (
          SELECT tk[CAST(i AS INT)] AS w1, tk[CAST(i AS INT) + 1] AS w2
          FROM toks JOIN generate_series(1, $MaxDocTokens) g(i) ON i <= len(tk) - 1),
        big AS (SELECT w1, w2, count(*) AS n FROM g GROUP BY 1, 2),
        lft AS (SELECT w1, sum(n) AS cx FROM big GROUP BY 1),
        rgt AS (SELECT w2, sum(n) AS cy FROM big GROUP BY 1),
        tot AS (SELECT sum(n) AS nn FROM big)
        SELECT b.w1, b.w2, b.n,
               CAST((CAST(b.n AS HUGEINT) * nn * 1000000) // (CAST(cx AS HUGEINT) * cy)
                 AS BIGINT) AS lift_ppm
        FROM big b JOIN lft USING (w1) JOIN rgt USING (w2) CROSS JOIN tot
        WHERE b.n >= 5""",

      "text_bigrams" -> s"""
        WITH toks AS (
          SELECT doc_id,
                 list_filter(string_split(lower(text), ' '),
                   t -> t <> '' AND NOT list_contains(${stopList("en")}, t)) AS tk
          FROM documents),
        grams AS (
          SELECT tk[CAST(i AS INT)] || ' ' || tk[CAST(i AS INT) + 1] AS bigram
          FROM toks JOIN generate_series(1, $MaxDocTokens) g(i) ON i <= len(tk) - 1)
        SELECT bigram, count(*) AS n FROM grams
        GROUP BY bigram ORDER BY n DESC, bigram ASC LIMIT 20""",

      "text_fingerprint" -> """
        SELECT doc_id,
               md5(array_to_string(list_filter(string_split(lower(text), ' '), t -> t <> ''), ' ')) AS fp
        FROM documents""",

      "text_tfidf" -> """
        WITH term AS (
          SELECT doc_id, unnest(string_split(lower(text), ' ')) AS term FROM documents),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM term GROUP BY doc_id, term),
        df AS (SELECT term, count(*) AS df FROM (SELECT DISTINCT doc_id, term FROM term) x GROUP BY term),
        n AS (SELECT count(*) AS n_docs FROM documents),
        scored AS (
          SELECT doc_id, tf.term AS term,
                 round(tf * (ln(CAST(n_docs + 1 AS DOUBLE) / (df + 1)) + 1.0), 6) AS tfidf
          FROM tf JOIN df ON tf.term = df.term CROSS JOIN n)
        SELECT doc_id, term, tfidf, rk FROM (
          SELECT doc_id, term, tfidf,
                 row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rk
          FROM scored) t
        WHERE rk <= 3"""
    )
  }
}
