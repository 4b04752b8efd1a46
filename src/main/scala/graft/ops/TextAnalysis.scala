package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Text-analysis operators for LLM-data pipelines (SURVEY §2 D4/D6): token
  * counting, quality scoring, language ID, document fingerprinting. All are
  * pure column expressions (whole-stage-codegen'd, no UDFs) so they run at
  * scan speed and push through Catalyst — at 100 TB these are map-only
  * operations with no shuffle at all until the final aggregation.
  *
  * Every function has an exact DuckDB-SQL mirror (see the *Sql vals) used by
  * the oracle gate; hashes go through md5-hex so both engines agree.
  */
object TextAnalysis {

  /** Whitespace tokens of a trimmed text: `split(trim(text), "\\s+")`,
    * computed by the byte-level kernel [[graft.functions.TokensExpr]].
    *
    * Callers computing several scores per row should materialize this ONCE in
    * a projection and use the *FromTokens variants — expressions that embed
    * `tokens(text)` repeatedly re-run the split (Catalyst does not CSE
    * across these subtrees).
    */
  def tokens(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(graft.functions.TokensExpr(expression(text)))
  }

  /** Whether a text holds a byte other than the six ASCII `\s` bytes, so
    * its tokens are not all empty: `rlike(text, "\\S")`, computed by the
    * byte-level kernel [[graft.functions.NonBlankExpr]]. Null for a null
    * text.
    */
  def nonBlank(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(graft.functions.NonBlankExpr(expression(text)))
  }

  def tokenCount(text: Column): Column = size(tokens(text))

  /** xxhash64 of every space-joined `k`-token window of a token array, with
    * the shared short-document convention (< k tokens ⇒ one whole-text
    * window) — the fused [[graft.functions.TokenWindowHashExpr]], bit-
    * identical to `xxhash64(concat_ws(" ", slice(toks, i, k)))` per window
    * without the per-window slice/concat allocations. Shared by span
    * postings (k = 8+) and 3-gram shingle postings.
    */
  def windowHashes(toks: Column, k: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(graft.functions.TokenWindowHashExpr(expression(toks), k))
  }

  /** Adjacent-token bigrams ("w1 w2") of a token array — empty for arrays
    * shorter than 2. Pure array expression (sequence + transform), so bigram
    * construction stays map-side; only the (doc, bigram) counts shuffle.
    */
  def bigrams(toks: Column): Column =
    // explicit <2 guard: sequence(1, 0) would yield a DESCENDING [1, 0],
    // not an empty range
    when(size(toks) < 2, array().cast(ArrayType(StringType)))
      .otherwise(
        transform(
          sequence(lit(1), size(toks) - 1),
          i => concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))

  /** Longest run of equal adjacent elements in a SORTED string array — i.e.
    * the count of the most frequent element, computed without any shuffle.
    * A single `aggregate` fold carrying (prev, current-run, best-run), so a
    * per-row mode-count stays inside whole-stage codegen instead of becoming
    * an explode + groupBy over the element stream. Empty arrays yield 0.
    */
  def maxRunLength(sorted: Column): Column =
    aggregate(
      sorted,
      struct(
        lit(null).cast(StringType).as("prev"),
        lit(0L).as("run"),
        lit(0L).as("best")),
      (acc, x) => {
        val run = when(x === acc.getField("prev"), acc.getField("run") + lit(1L))
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          greatest(acc.getField("best"), run).as("best"))
      },
      acc => acc.getField("best"))

  /** GPT-2-style pre-tokenizer (simplified, public pattern shape): English
    * contractions, optional-space letter runs, digit runs, and
    * non-alphanumeric runs — the "BPE-ish" subword unit count a training
    * pipeline budgets by, without a merges table. Deterministic and
    * RE2/Java-regex-agreeing (literal alternations + ASCII classes only), so
    * DuckDB replays it exactly.
    */
  val SubwordPattern = "'s|'t|'re|'ve|'m|'ll|'d| ?[a-zA-Z]+| ?[0-9]+| ?[^\\sa-zA-Z0-9]+"

  def subwordTokenCount(text: Column): Column = regexp_count(text, lit(SubwordPattern))

  def subwordTokenCountSql(t: String): String = {
    // DuckDB plain string literals pass backslashes through; only quotes
    // need doubling
    val sqlPattern = SubwordPattern.replace("'", "''")
    s"len(regexp_extract_all($t, '$sqlPattern'))"
  }

  /** Mean token length ×1000, floored — integer arithmetic, FP-safe. */
  def meanTokenLenMilliFromTokens(toks: Column): Column =
    floor(
      aggregate(toks, lit(0L), (acc, w) => acc + length(w)).cast(DoubleType)
        * 1000 / size(toks)
    ).cast(LongType)

  def meanTokenLenMilli(text: Column): Column = meanTokenLenMilliFromTokens(tokens(text))

  /** Punctuation characters per 1000 chars, floored. */
  def punctPerMille(text: Column): Column =
    floor(
      (length(text) - length(regexp_replace(text, "[\\p{Punct}]", ""))).cast(DoubleType)
        * 1000 / greatest(length(text), lit(1))
    ).cast(LongType)

  val StopwordsEn: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is", "it", "for", "on")

  /** Fraction of tokens that are English stopwords, ×1000 floored. */
  def stopwordPerMilleFromTokens(toks: Column, stopwords: Seq[String] = StopwordsEn): Column =
    floor(
      size(filter(toks, w => w.isInCollection(stopwords))).cast(DoubleType)
        * 1000 / size(toks)
    ).cast(LongType)

  def stopwordPerMille(text: Column, stopwords: Seq[String] = StopwordsEn): Column =
    stopwordPerMilleFromTokens(tokens(text), stopwords)

  /** Composite quality heuristic in [0, 100]: rewards mid-length docs and
    * stopword presence, penalizes punctuation soup. Deterministic integer
    * output so the oracle matches bit-for-bit.
    */
  def qualityScoreFromTokens(text: Column, toks: Column): Column = {
    val lenScore = least(length(text), lit(400)).cast(DoubleType) / 4 // 0..100
    val stopScore = least(stopwordPerMilleFromTokens(toks), lit(300)).cast(DoubleType) / 3 // 0..100
    val punctPenalty = least(punctPerMille(text), lit(200)).cast(DoubleType) / 2 // 0..100
    floor(lenScore * 0.4 + stopScore * 0.4 - punctPenalty * 0.2 + 20).cast(LongType)
  }

  def qualityScore(text: Column): Column = qualityScoreFromTokens(text, tokens(text))

  /** Scored-document projection (extras..., doc, n_tokens, quality) — the
    * ONE definition shared by quality curriculum, token-budget curation,
    * and the per-domain cap, so tokenization/scoring can never drift
    * between those ops or their DuckDB mirrors ([[scoredDocsSql]]).
    * Tokenizes ONCE per row (Catalyst does not CSE the regex split across
    * the tokenCount and qualityScore subtrees — hence the *FromTokens form).
    */
  def scoredDocs(docs: DataFrame, idCol: String, textCol: String,
                 extraCols: Seq[String] = Nil): DataFrame =
    docs
      .select(extraCols.map(col) ++ Seq(col(idCol).as("doc"),
        col(textCol).as("_text"), tokens(col(textCol)).as("_toks")): _*)
      .select(extraCols.map(col) ++ Seq(
        col("doc"),
        size(col("_toks")).cast(LongType).as("n_tokens"),
        qualityScoreFromTokens(col("_text"), col("_toks")).cast(LongType).as("quality")): _*)

  /** DuckDB mirror of [[scoredDocs]] over `documents` (a SELECT, ready to
    * wrap in a CTE).
    */
  def scoredDocsSql(extraCols: String*): String = {
    val ex = extraCols.map(_ + ", ").mkString
    s"""SELECT ${ex}doc_id AS doc, CAST(${tokenCountSql("text")} AS BIGINT) AS n_tokens,
       |    CAST(${qualityScoreSql("text")} AS BIGINT) AS quality
       |  FROM documents""".stripMargin
  }

  // Tiny marker lists per language; deterministic argmax with fixed order.
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "das", "und", "nicht", "ist"),
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "es" -> Seq("el", "la", "de", "y", "que", "es"),
    "fr" -> Seq("le", "la", "de", "et", "que", "est"),
    "zh" -> Seq("de5", "shi4", "le5", "zai4", "he2", "you3")
  )

  private def langScore(toks: Column, markers: Seq[String]): Column =
    size(filter(toks, w => w.isInCollection(markers)))

  /** n-gram/stopword language-ID heuristic: argmax of marker-hit counts,
    * first language in [[LangMarkers]] order wins ties ("und" = unknown when
    * no marker hits at all).
    */
  def langIdFromTokens(toks: Column): Column = {
    val scores = LangMarkers.map { case (l, ms) => l -> langScore(toks, ms) }
    val anyHit = scores.map(_._2).reduce(_ + _) > 0
    val best = scores.foldLeft(lit("und") -> lit(-1): (Column, Column)) {
      case ((bestLang, bestScore), (l, s)) =>
        (when(s > bestScore, lit(l)).otherwise(bestLang), greatest(s, bestScore))
    }
    when(anyHit, best._1).otherwise(lit("und"))
  }

  def langId(text: Column): Column = langIdFromTokens(tokens(text))

  /** Rolling-hash fingerprint from a MATERIALIZED token array: min md5 over
    * word 3-grams (whole doc when shorter) — a stable near-dup signature
    * (SURVEY §2 D4). Two-phase like [[Dedup.shinglesFromTokens]]: lambdas
    * referencing an unmaterialized tokens(text) re-split per element.
    */
  def fingerprintFromTokens(toks: Column): Column = {
    val grams = when(
      size(toks) < 3,
      array(concat_ws(" ", toks))
    ).otherwise(
      transform(
        sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))
      )
    )
    array_min(transform(grams, g => md5(g.cast(BinaryType))))
  }

  def fingerprint(text: Column): Column = fingerprintFromTokens(tokens(text))

  /** Overlapping token-window chunking (win tokens, advancing by stride):
    * the unit a training pipeline feeds to tokenization — long documents
    * become multiple windows with win−stride tokens of overlap so no context
    * is lost at a boundary. Map-only array expressions over a MATERIALIZED
    * token array (same two-phase rule as [[fingerprintFromTokens]]); the
    * explode that usually follows multiplies rows, not bytes shuffled,
    * because chunking runs before any wide operation.
    *
    * Every document yields >= 1 chunk (an empty token array yields one
    * zero-length chunk). Starts are 0, stride, …, stopping at the first
    * window that reaches the document's end — a further start would yield a
    * chunk fully contained in its predecessor (pure duplicate data for the
    * training pipeline): last start = stride * ceil(max(0, size−win)/stride).
    */
  def chunkStarts(toks: Column, win: Int, stride: Int): Column = {
    val last =
      floor((greatest(lit(0), size(toks) - win) + lit(stride - 1)) / lit(stride)).cast("int") * stride
    sequence(lit(0), last, lit(stride))
  }

  /** Token count of each chunk: least(win, size − start). */
  def chunkLengths(toks: Column, win: Int, stride: Int): Column =
    transform(chunkStarts(toks, win, stride), s => least(lit(win), size(toks) - s))

  /** The chunk token arrays themselves (slice is 1-indexed). */
  def chunks(toks: Column, win: Int, stride: Int): Column =
    transform(chunkStarts(toks, win, stride), s => slice(toks, s + 1, lit(win)))

  // ------------------------------------------------------------- DuckDB SQL

  private def sqlToks(t: String) = s"string_split_regex(trim($t), '\\s+')"

  def tokenCountSql(t: String): String = s"len(${sqlToks(t)})"

  def meanTokenLenMilliSql(t: String): String =
    s"CAST(floor(CAST(list_sum(list_transform(${sqlToks(t)}, w -> length(w))) AS DOUBLE) * 1000 / len(${sqlToks(t)})) AS BIGINT)"

  def punctPerMilleSql(t: String): String =
    s"CAST(floor(CAST(length($t) - length(regexp_replace($t, '[[:punct:]]', '', 'g')) AS DOUBLE) * 1000 / greatest(length($t), 1)) AS BIGINT)"

  def stopwordPerMilleSql(t: String, stopwords: Seq[String] = StopwordsEn): String = {
    val lst = stopwords.map(w => s"'$w'").mkString(", ")
    s"CAST(floor(CAST(len(list_filter(${sqlToks(t)}, w -> w IN ($lst))) AS DOUBLE) * 1000 / len(${sqlToks(t)})) AS BIGINT)"
  }

  def qualityScoreSql(t: String): String =
    s"""CAST(floor(
       |  CAST(least(length($t), 400) AS DOUBLE) / 4 * 0.4
       |  + CAST(least(${stopwordPerMilleSql(t)}, 300) AS DOUBLE) / 3 * 0.4
       |  - CAST(least(${punctPerMilleSql(t)}, 200) AS DOUBLE) / 2 * 0.2 + 20) AS BIGINT)""".stripMargin

  def langIdSql(t: String): String = {
    val scoreSqls = LangMarkers.map { case (l, ms) =>
      val lst = ms.map(w => s"'$w'").mkString(", ")
      l -> s"len(list_filter(${sqlToks(t)}, w -> w IN ($lst)))"
    }
    // same fold as langId: strictly-greater beats, first-in-order wins ties
    val whens = scoreSqls.zipWithIndex.map { case ((l, s), i) =>
      val later = scoreSqls.drop(i + 1).map(_._2)
      val cond =
        if (later.isEmpty) "TRUE"
        else later.map(o => s"$s >= $o").mkString(" AND ")
      s"WHEN $cond THEN '$l'"
    }
    val anyHit = scoreSqls.map(_._2).mkString(" + ") + " > 0"
    s"CASE WHEN NOT ($anyHit) THEN 'und' ${whens.mkString(" ")} ELSE 'und' END"
  }

  /** DuckDB mirror of [[chunkLengths]]: range's exclusive upper bound is the
    * last start + 1, with the same ceil(max(0, n−win)/stride) last start.
    */
  def chunkLengthsSql(t: String, win: Int, stride: Int): String = {
    val toks = sqlToks(t)
    val last = s"((greatest(len($toks) - $win, 0) + ${stride - 1}) // $stride) * $stride"
    s"list_transform(range(0, $last + 1, $stride), s -> least($win, len($toks) - s))"
  }

  def fingerprintSql(t: String): String = {
    val toks = sqlToks(t)
    s"""list_min(list_transform(
       |  CASE WHEN len($toks) < 3 THEN [array_to_string($toks, ' ')]
       |       ELSE list_transform(range(1, len($toks) - 1), i -> array_to_string($toks[i:i+2], ' '))
       |  END, g -> md5(g)))""".stripMargin
  }

  // --------------------------------------------- unigram LM quality scoring

  /** CCNet-style perplexity-proxy quality scoring: score every document by
    * its mean per-token unigram log-probability under the corpus's own
    * unigram LM. The published recipe (CCNet, Wenzek et al. 2020) buckets
    * CommonCrawl by KenLM perplexity; the unigram LM is the shuffle-friendly
    * first-order version of that signal, and the integer quantization makes
    * it exactly replayable: each token's log-prob is rounded to MICRO-nats
    * (a BIGINT) BEFORE the per-doc sum, so the aggregate is an integer sum —
    * deterministic under any partitioning/merge order, unlike a double sum.
    *
    * Plan shape at 100 TB: one O(tokens) explode, one shuffle on the token
    * for the count aggregate (map-side combined), a TakeOrdered top-`vocabCap`
    * (per-partition partial top-V, driver merges V rows — never the full
    * vocabulary), then the scored vocabulary and the 1-row total BROADCAST
    * back onto the token stream (map-side hash join + the allowlisted
    * scalar-agg cross join), and one final shuffle on doc_id. Tokens outside
    * the top-`vocabCap` take the OOV floor log(1/total) — the "rare means
    * improbable" clamp that also caps the broadcast at V rows regardless of
    * corpus vocabulary size.
    *
    * Output per document: token count, summed and mean micro-nat log-prob,
    * and `nat_bin` = floor(-mean) in whole nats — the perplexity-tier bucket
    * (higher bin = less probable = lower quality).
    */
  def unigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                     vocabCap: Int): DataFrame = {
    val toks = docs.select(col(idCol).as("doc"), explode(tokens(col(textCol))).as("tok"))
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum(col("cnt")).as("total"))
    val vocab = counts
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(vocabCap)
      .crossJoin(broadcast(tot))
      .select(col("tok"),
        round(lit(1e6) * log(col("cnt").cast(DoubleType) / col("total")))
          .cast("long").as("score"))
    val scored = toks
      .join(broadcast(vocab), Seq("tok"), "left_outer")
      .crossJoin(broadcast(tot))
      .select(col("doc"),
        coalesce(col("score"),
          round(lit(1e6) * log(lit(1.0) / col("total"))).cast("long")).as("score"))
    scored.groupBy(col("doc"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("score")).as("lp_sum_micro"))
      .select(col("doc"), col("n_tokens"), col("lp_sum_micro"),
        round(col("lp_sum_micro").cast(DoubleType) / col("n_tokens"))
          .cast("long").as("lp_mean_micro"))
      .withColumn("nat_bin",
        floor(-col("lp_mean_micro").cast(DoubleType) / lit(1e6)).cast("long"))
  }

  /** Bigram LM quality scoring with interpolated absolute discounting — one
    * order closer to CCNet's KenLM recipe than [[unigramLogProb]]:
    *
    *   p(w2|w1) = max(c(w1,w2) − D, 0)/c(w1) + λ(w1)·p_uni(w2)
    *   λ(w1)    = D · |{w : c(w1,w) > 0}| / c(w1),   D = 0.75
    *
    * with two corpus-size-independent caps that make the model broadcastable:
    * histories outside the top-`vocabCap` unigrams back off to pure
    * p_uni(w2) (OOV-floored, as in the unigram op), and bigrams outside the
    * top-`bigramCap` keep only the λ-weighted continuation mass. Per-token
    * log-probs are quantized to integer micro-nats BEFORE the per-doc sum —
    * deterministic under any partitioning.
    *
    * Plan shape at 100 TB: the bigram count aggregate is THE shuffle (as in
    * any n-gram LM training — KenLM pays the same); it is map-side combined
    * and its two downstream reductions (per-history continuation types,
    * top-B TakeOrdered) are bounded by vocabulary, not corpus. Scoring joins
    * are all broadcasts (V + V + B rows + the 1-row total); the only
    * data-sized shuffles are the bigram counts and the final per-doc sum.
    *
    * Output per document: bigram count, summed and mean micro-nat log-prob,
    * and the whole-nat perplexity bin.
    */
  def bigramLogProb(docs: DataFrame, idCol: String, textCol: String,
                    vocabCap: Int, bigramCap: Int): DataFrame = {
    val D = 0.75
    // two-phase tokenize (materialize the array, THEN build bigrams): a
    // lambda referencing tokens(text) re-splits the text per element —
    // O(tokens²) per doc (see [[Dsir.features]], measured)
    //
    // r18 (r17 verdict #6, guide §1.2 step 2): the pairs used to be built as
    // "w1 w2" strings (one concat per bigram) and split BACK into w1/w2 with
    // TWO regex `split` calls per pair row — three string passes per bigram
    // in the op's hottest projection. Tokens come from a \s+ split, so they
    // contain no spaces and `split(concat(w1,' ',w2), ' ')` is exactly
    // (w1, w2): emit the struct directly. Value-identical (the DuckDB mirror
    // keeps its string formulation and stays hash-equal).
    val pairs = docs
      .select(col(idCol).as("doc"), tokens(col(textCol)).as("toks"))
      .select(col("doc"), explode(
        when(size(col("toks")) < 2,
          array().cast(ArrayType(StructType(Seq(
            StructField("w1", StringType), StructField("w2", StringType))))))
          .otherwise(transform(
            sequence(lit(1), size(col("toks")) - 1),
            i => struct(
              element_at(col("toks"), i).as("w1"),
              element_at(col("toks"), i + 1).as("w2"))))).as("p"))
      .select(col("doc"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val toks = docs.select(col(idCol).as("doc"), explode(tokens(col(textCol))).as("tok"))
    val counts = toks.groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum(col("cnt")).as("total"))
    val vocab = counts.orderBy(col("cnt").desc, col("tok").asc).limit(vocabCap)
    val bigc = pairs.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c12"))
    val types = bigc.groupBy(col("w1")).agg(count(lit(1)).as("n_types"))
    val topB = bigc.orderBy(col("c12").desc, col("w1").asc, col("w2").asc).limit(bigramCap)
    val hist = vocab.select(col("tok").as("w1"), col("cnt").as("c1"))
      .join(types, Seq("w1"), "left_outer")
      .select(col("w1"), col("c1"), coalesce(col("n_types"), lit(0L)).as("n_types"))
    val nextW = vocab.select(col("tok").as("w2"), col("cnt").as("cnt2"))
    val scored = pairs
      .join(broadcast(topB), Seq("w1", "w2"), "left_outer")
      .join(broadcast(hist), Seq("w1"), "left_outer")
      .join(broadcast(nextW), Seq("w2"), "left_outer")
      .crossJoin(broadcast(tot))
      .select(col("doc"), {
        val pu2 = coalesce(col("cnt2").cast(DoubleType), lit(1.0)) / col("total")
        val lam = lit(D) * col("n_types").cast(DoubleType) / col("c1")
        val pDisc = (col("c12").cast(DoubleType) - lit(D)) / col("c1")
        val p = when(col("c1").isNull, pu2)
          .otherwise(coalesce(pDisc, lit(0.0)) + lam * pu2)
        round(lit(1e6) * log(p)).cast("long").as("score")
      })
    scored.groupBy(col("doc"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("score")).as("lp_sum_micro"))
      .select(col("doc"), col("n_bigrams"), col("lp_sum_micro"),
        round(col("lp_sum_micro").cast(DoubleType) / col("n_bigrams"))
          .cast("long").as("lp_mean_micro"))
      .withColumn("nat_bin",
        floor(-col("lp_mean_micro").cast(DoubleType) / lit(1e6)).cast("long"))
  }

  /** DuckDB mirror of [[bigramLogProb]]: same caps, same discounting
    * arithmetic in the same association order, same micro-nat rounding.
    */
  def bigramLogProbSql(vocabCap: Int, bigramCap: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id AS doc, unnest(${sqlToks("text")}) AS tok FROM documents
       |), counts AS (
       |  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY 1
       |), tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM counts),
       |vocab AS (SELECT tok, cnt FROM counts ORDER BY cnt DESC, tok ASC LIMIT $vocabCap),
       |tl AS (SELECT doc_id AS doc, ${sqlToks("text")} AS l FROM documents),
       |pairs AS (
       |  SELECT doc, f[1] AS w1, f[2] AS w2 FROM (
       |    SELECT doc, string_split(unnest(
       |      CASE WHEN len(l) < 2 THEN CAST([] AS VARCHAR[])
       |      ELSE list_transform(range(1, len(l)), i -> l[i] || ' ' || l[i + 1])
       |      END), ' ') AS f
       |    FROM tl)
       |), bigc AS (
       |  SELECT w1, w2, COUNT(*) AS c12 FROM pairs GROUP BY 1, 2
       |), types AS (
       |  SELECT w1, COUNT(*) AS n_types FROM bigc GROUP BY 1
       |), topb AS (
       |  SELECT w1, w2, c12 FROM bigc ORDER BY c12 DESC, w1 ASC, w2 ASC LIMIT $bigramCap
       |), hist AS (
       |  SELECT v.tok AS w1, v.cnt AS c1, COALESCE(t.n_types, 0) AS n_types
       |  FROM vocab v LEFT JOIN types t ON v.tok = t.w1
       |), scored AS (
       |  SELECT p.doc,
       |    CAST(round(1e6 * ln(
       |      CASE WHEN h.c1 IS NULL THEN COALESCE(v2.cnt, 1) * 1.0 / tot.total
       |      ELSE COALESCE((b.c12 - 0.75) / h.c1, 0.0)
       |         + 0.75 * h.n_types / h.c1 * (COALESCE(v2.cnt, 1) * 1.0 / tot.total)
       |      END)) AS BIGINT) AS score
       |  FROM pairs p
       |  LEFT JOIN topb b ON p.w1 = b.w1 AND p.w2 = b.w2
       |  LEFT JOIN hist h ON p.w1 = h.w1
       |  LEFT JOIN vocab v2 ON p.w2 = v2.tok
       |  CROSS JOIN tot
       |), perdoc AS (
       |  SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |    CAST(SUM(score) AS BIGINT) AS lp_sum_micro
       |  FROM scored GROUP BY 1
       |)
       |SELECT doc, n_bigrams, lp_sum_micro,
       |  CAST(round(CAST(lp_sum_micro AS DOUBLE) / n_bigrams) AS BIGINT) AS lp_mean_micro,
       |  CAST(floor(-CAST(round(CAST(lp_sum_micro AS DOUBLE) / n_bigrams) AS BIGINT) / 1e6) AS BIGINT) AS nat_bin
       |FROM perdoc""".stripMargin

  /** DuckDB mirror of [[unigramLogProb]]: same tokenizer, same top-V
    * (count DESC, token ASC) vocabulary cut, same micro-nat rounding before
    * the integer per-doc sum.
    */
  def unigramLogProbSql(vocabCap: Int): String =
    s"""WITH toks AS (
       |  SELECT doc_id AS doc, unnest(${sqlToks("text")}) AS tok FROM documents
       |), counts AS (
       |  SELECT tok, COUNT(*) AS cnt FROM toks GROUP BY 1
       |), tot AS (SELECT CAST(SUM(cnt) AS BIGINT) AS total FROM counts),
       |vocab AS (
       |  SELECT tok,
       |    CAST(round(1e6 * ln(CAST(cnt AS DOUBLE) / (SELECT total FROM tot))) AS BIGINT) AS score
       |  FROM counts ORDER BY cnt DESC, tok ASC LIMIT $vocabCap
       |), scored AS (
       |  SELECT t.doc,
       |    COALESCE(v.score,
       |      CAST(round(1e6 * ln(1.0 / (SELECT total FROM tot))) AS BIGINT)) AS score
       |  FROM toks t LEFT JOIN vocab v ON t.tok = v.tok
       |), perdoc AS (
       |  SELECT doc, CAST(COUNT(*) AS BIGINT) AS n_tokens,
       |    CAST(SUM(score) AS BIGINT) AS lp_sum_micro
       |  FROM scored GROUP BY 1
       |)
       |SELECT doc, n_tokens, lp_sum_micro,
       |  CAST(round(CAST(lp_sum_micro AS DOUBLE) / n_tokens) AS BIGINT) AS lp_mean_micro,
       |  CAST(floor(-CAST(round(CAST(lp_sum_micro AS DOUBLE) / n_tokens) AS BIGINT) / 1e6) AS BIGINT) AS nat_bin
       |FROM perdoc""".stripMargin
}
