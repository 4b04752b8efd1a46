package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Deduplication operators (SURVEY §2 D1/D2), each designed as shuffle-native
  * DataFrame transforms; only plan decisions and size-capped relations
  * touch the driver:
  *
  *   - exact: hash-groupBy keeping the min-tiebreaker row (2-phase agg);
  *   - n-gram Jaccard: token-postings self-join — the classic inverted-index
  *     pair generation; skew-guarded by a document-frequency cap;
  *   - MinHash-LSH: signature → banded bucket join → verified candidates →
  *     connected components (driver union-find under a size cap, iterative
  *     label propagation above it);
  *   - SimHash: 60-bit md5-derived signature, oracle-checkable.
  *
  * The two pair ops (n-gram Jaccard and MinHash-LSH) finish small inputs on
  * the driver. Each makes one pass over the corpus (the per-doc shingle
  * sets, or the signatures) that also encodes the rows as primitive longs
  * ([[corpusPass]]). Over a small 4mc corpus (at most
  * [[DriverReadMaxLines]] lines in at most 32 files, each with a stats
  * segment) the pass is a driver read
  * ([[graft.plans.McDriverScan.read]]): no Spark job, and the encoding
  * stops once it passes [[DriverMaxLongs]] (4 Mi longs, 32 MiB). Any other
  * corpus makes the pass into a checkpoint, whose partitions count their
  * longs and send them back while they fit their share of the same bound,
  * so the driver never holds more. Within the bound, and with an integral
  * id column, the op ends on the driver: an inverted index with the
  * AllPairs prefix and length filters, or the LSH banding, then exact
  * verification. The result is a local relation with the distributed
  * plan's schema and its values, so no join stage runs. Over the bound,
  * for any other id type, or when the verified pairs would pass the same
  * bound, the distributed plan runs as before, from a checkpoint of the
  * pass (for the n-gram op, of the postings [[shinglePostings]] gives, so
  * its distributed plan is unchanged). [[Spans.dupSpanCoverage]] makes the same corpus pass, and
  * [[keepCanonical]]'s sizing pass tries the same driver read.
  */
object Dedup {

  // plan decisions (which data-dependent path an op took), one INFO line each
  private val log = org.slf4j.LoggerFactory.getLogger("graft.ops.Dedup")

  /** D1: exact dedup on `keys`, keeping the row with the smallest `tie`.
    * groupBy + min_by(struct) = partial-aggregated, one shuffle on the key
    * hash — at 100 TB this is the cheapest possible exact dedup.
    */
  def exactDedup(df: DataFrame, keys: Seq[String], tie: String): DataFrame = {
    val all = struct(df.columns.map(col).toIndexedSeq: _*)
    df.groupBy(keys.map(col).toIndexedSeq: _*)
      .agg(min_by(all, col(tie)).as("_r"))
      .select("_r.*")
  }

  /** Exact dedup keyed by md5 digest instead of the raw columns: at corpus
    * scale the shuffle ships 16-byte digests, not multi-KB documents.
    * 128-bit collisions are below hardware-error rates (the standard
    * content-addressing argument); use [[exactDedup]] when byte-exact key
    * comparison is required.
    */
  def exactDedupByDigest(df: DataFrame, keys: Seq[String], tie: String): DataFrame = {
    // to_json(struct) is injective over the key tuple: fields are named and
    // null columns are dropped WITH their names, so ('a',NULL,'b') and
    // ('a','b',NULL) serialize differently (concat-style encodings collapse
    // them), and delimiter bytes inside values are JSON-escaped.
    val digest = md5(to_binary(to_json(struct(keys.map(col).toIndexedSeq: _*)), lit("utf-8")))
    val all = struct(df.columns.map(col).toIndexedSeq: _*)
    df.groupBy(digest.as("_d"))
      .agg(min_by(all, col(tie)).as("_r"))
      .select("_r.*")
  }

  /** Text normalization for "fuzzy-exact" dedup — the Dolma/C4-style
    * normalize-then-hash recipe: lowercase, non-alphanumeric runs to a
    * single space, trimmed. Catches re-crawls that differ only in case,
    * punctuation, or whitespace, which byte-exact dedup misses; map-only,
    * so the only cost over byte-exact dedup is the regex pass.
    */
  def normalizedText(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  def normalizedTextSql(t: String): String =
    s"trim(regexp_replace(lower($t), '[^a-z0-9]+', ' ', 'g'))"

  /** Distinct (doc, 3-gram shingle) postings. Shingles — not unigrams — are
    * the unit: natural-language vocabularies are small and every word is hot
    * (a token present in 1M docs creates 10^12 join pairs), while shingle
    * document-frequency stays low, so the self-join fans out linearly.
    * `maxDocFreq` additionally drops boilerplate shingles (the residual skew
    * guard at corpus scale). 0 = uncapped (oracle parity).
    */
  def shinglePostings(docs: DataFrame, idCol: String, textCol: String, maxDocFreq: Long = 0L): DataFrame = {
    // two-phase: materialize the token array, THEN build shingles from it —
    // a lambda that references tokens(text) directly re-runs the regex split
    // per element (no CSE through higher-order functions), turning shingle
    // construction quadratic in document length.
    //
    // The posting key is xxhash64(shingle), not the shingle string: every
    // consumer (jaccard self-join, df aggregate, decontamination join) only
    // ever compares shingles for EQUALITY and none emits the string, so an
    // 8-byte key halves-or-better every downstream shuffle row vs a ~25-byte
    // 3-word string (measured −7 GB at the 700× stress point). Semantics are
    // identical unless two distinct shingles in the same comparison collide
    // at 64 bits (~n²/2⁶⁵ — vanishing at any corpus size; the DuckDB oracles
    // keep plain string shingles and stay hash-identical at the oracle SFs).
    // fused per-shingle hashing (TokenWindowHashExpr, k = 3): bit-identical
    // to array_distinct(transform(shinglesFromTokens(toks), xxhash64)) —
    // distinct applies to the hash array either way — without the
    // per-shingle concat allocations
    val posts = docs
      .select(col(idCol).as("doc"), TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(col("doc"),
        explode(array_distinct(TextAnalysis.windowHashes(col("_toks"), 3))).as("w"))
    if (maxDocFreq <= 0) posts
    else {
      val hot = posts.groupBy("w").agg(count(lit(1)).as("df")).filter(col("df") > maxDocFreq)
      posts.join(broadcast(hot), Seq("w"), "left_anti")
    }
  }

  /** (doc, ws) per doc row: the distinct keys of its word 3-shingles, the
    * postings [[shinglePostings]] gives one row each. A Project over the
    * docs, so a driver read can take it ([[corpusPass]]). The postings are
    * not an explode over `ws`: Spark infers a `size(ws) > 0` filter for a
    * generator over a column and pushes it below this projection, which
    * would tokenize and hash every row twice.
    */
  private def shingleSets(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol).as("doc"),
      array_distinct(TextAnalysis.windowHashes(TextAnalysis.tokens(col(textCol)), 3)).as("ws"))

  /** Expected self-join fanout per posting: E[df of the shingle holding a
    * random posting] = sum(df^2)/sum(df). Below ~64 the naive postings join
    * is cheaper than prefix filtering's extra shuffles; above it the
    * candidate explosion dominates and prefix filtering wins.
    */
  private val PrefixFanoutThreshold = 64.0

  /** Storage level for the O(corpus-tokens) intermediate checkpoints,
    * settable per session via `spark.graft.checkpoint.storage`. The default
    * MEMORY_AND_DISK is right while the postings fit beside execution
    * memory; at stress/corpus scale set DISK_ONLY — measured at 700× sf0.1,
    * the memory-first checkpoint competes with aggregation tasks for the
    * unified pool and OOMs them, while DISK_ONLY reads back at scan speed.
    * (graft.tools.StressPipeline sets this for its run and restores after.)
    */
  private[ops] def ckptLevel(df: DataFrame): StorageLevel = {
    val v = df.sparkSession.conf.get("spark.graft.checkpoint.storage", "MEMORY_AND_DISK")
    try StorageLevel.fromString(v)
    catch {
      case _: IllegalArgumentException =>
        throw new IllegalArgumentException(
          s"spark.graft.checkpoint.storage='$v' is not a StorageLevel name " +
            "(expected e.g. MEMORY_AND_DISK, DISK_ONLY)")
    }
  }

  /** D2 (exact flavor): all pairs with 3-gram-shingle-set Jaccard >=
    * `threshold`. Prefix-filtered (AllPairs/PPJoin-style): with every doc's
    * shingles sorted by a global (docFreq, shingle) order, two docs with
    * Jaccard >= t MUST share an element within their first
    * floor((1-t)|S|)+1 shingles — so only prefix postings are self-joined
    * (rarest shingles first, collapsing candidate count), and survivors are
    * verified with an exact intersection over the full sorted sets. Output
    * is IDENTICAL to the naive postings join; the DuckDB oracle is the naive
    * formulation. Deterministic double (int/int division).
    *
    * `maxDocFreq` is the corpus-scale skew guard: shingles present in more
    * than that many documents are boilerplate (license headers, navigation
    * chrome, stop-trigram runs) whose posting self-join alone is O(df²) —
    * at a million+ documents a single hot shingle would dominate the whole
    * stage. Dropping them from BOTH the candidate generation and the
    * verified sets keeps one consistent (capped) Jaccard semantics. The
    * default 0 = uncapped keeps exact oracle parity; callers at scale pass a
    * cap comfortably above any legitimate near-dup shingle frequency.
    *
    * Postings within [[DriverMaxLongs]] finish on the driver (see the
    * object header); a doc id repeated across rows counts as one doc there,
    * with the prefix plan's semantics (distinct common shingles over the
    * summed posting counts).
    */
  def ngramJaccardPairs(docs: DataFrame, idCol: String, textCol: String, threshold: Double,
                        maxDocFreq: Long = 0L): DataFrame =
    ngramJaccardPairsWith(docs, idCol, textCol, threshold, maxDocFreq, DriverMaxLongs)

  /** [[ngramJaccardPairs]] with the driver path's bound as a parameter. */
  private[ops] def ngramJaccardPairsWith(docs: DataFrame, idCol: String, textCol: String, threshold: Double,
                                         maxDocFreq: Long, driverMaxLongs: Long): DataFrame = {
    // the driver read takes the per-doc sets; a checkpoint holds the raw
    // postings every distributed consumer reads
    val sets = shingleSets(docs, idCol, textCol)
    val posts = shinglePostings(docs, idCol, textCol)
    val cap = if (maxDocFreq <= 0) Long.MaxValue else maxDocFreq
    corpusPass(log, "[ngram]",
      CorpusPass(sets, shingleSetLongs(sets.schema), posts, postingLongs(posts.schema)), driverMaxLongs)(
      pairsOnDriver(sets, driverMaxLongs) { (chunks, out) => ngramPairsOnDriver(chunks, threshold, cap, out) }
    )(ngramJaccardFromRaw(_, threshold, maxDocFreq))
  }

  /** The distributed plan of [[ngramJaccardPairs]] over the checkpointed
    * raw postings.
    */
  private def ngramJaccardFromRaw(raw: DataFrame, threshold: Double, maxDocFreq: Long): DataFrame = {
    // ONE vocabulary aggregate serves the cap, the cost-based dispatch, and
    // the prefix ordering: shinglePostings' own maxDocFreq path would run a
    // second full groupBy(w) over the postings just to find the hot list —
    // at stress scale that is an extra multi-GB shuffle for values the
    // uncapped aggregate already holds. The capped postings themselves stay
    // a map-side broadcast anti-join over the checkpointed raw postings.
    val dfreqAll = raw.groupBy("w").agg(count(lit(1)).as("df"))
      .localCheckpoint(true, ckptLevel(raw))
    val (posts, dfreq) =
      if (maxDocFreq <= 0) (raw, dfreqAll)
      else (
        // materialize the capped postings once (map-side anti-join read of
        // the raw checkpoint) — four downstream consumers would otherwise
        // each re-derive them
        raw.join(broadcast(dfreqAll.filter(col("df") > maxDocFreq)), Seq("w"), "left_anti")
          .localCheckpoint(true, ckptLevel(raw)),
        dfreqAll.filter(col("df") <= maxDocFreq))
    // every plan decision from ONE pass over the vocabulary checkpoint's
    // rows (sum df², sum df, count of the capped vocabulary; a plain RDD
    // job, so no aggregate query is compiled per call): the fanout picks
    // the strategy, the vocabulary count gates the prefix path's dfreq
    // broadcast, and the posting count (sum of df) bounds the naive path's
    // doc count, which gates its sizes broadcast. Overflow fails the call,
    // as the ANSI sum did.
    val dfAt = dfreqAll.schema.fieldIndex("df")
    val cap = if (maxDocFreq <= 0) Long.MaxValue else maxDocFreq
    val Array(df2, dfs, nw) = checkpointRows(dfreqAll).mapPartitions { rows =>
      var df2, dfs, nw = 0L
      rows.foreach { r =>
        val d = r.getLong(dfAt)
        if (d <= cap) { df2 = Math.addExact(df2, Math.multiplyExact(d, d)); dfs += d; nw += 1 }
      }
      Iterator.single(Array(df2, dfs, nw))
    }.fold(Array(0L, 0L, 0L))((x, y) => Array(Math.addExact(x(0), y(0)), x(1) + y(1), x(2) + y(2)))
    val fanout = df2.toDouble / math.max(1L, dfs)
    val usePrefix = fanout >= PrefixFanoutThreshold
    log.info(
      f"[ngram] expected self-join fanout $fanout%.1f -> ${if (usePrefix) "prefix-filter" else "naive"} path")
    if (!usePrefix) jaccardFromPosts(posts, threshold, dfs)
    else prefixFromPosts(posts, dfreq, threshold, nw)
  }

  /** Prefix-filtered path (forced) — see [[ngramJaccardPairs]]. */
  def ngramJaccardPairsPrefix(docs: DataFrame, idCol: String, textCol: String, threshold: Double): DataFrame = {
    val plan = shinglePostings(docs, idCol, textCol)
    val posts = plan.localCheckpoint(true, ckptLevel(plan))
    val dfreqPlan = posts.groupBy("w").agg(count(lit(1)).as("df"))
    val dfreq = dfreqPlan.localCheckpoint(true, ckptLevel(dfreqPlan))
    prefixFromPosts(posts, dfreq, threshold, dfreq.count())
  }

  /** Vocabulary-count ceiling for broadcasting the dfreq table into the
    * prefix path's rank attach (r17, guide §3.1): the (w, df) relation is
    * vocabulary-sized — far smaller than the postings it joins — and the
    * shuffle join exchanged the FULL postings relation by w a second time
    * just to attach a rank (the single largest avoidable exchange in the
    * op at 700×). 4 M keys ≈ 64 MB raw / ~150 MB hashed relation. Above
    * the cap (a truly open vocabulary at corpus scale) the shuffle join is
    * the only correct shape.
    */
  private val BroadcastDfreqMaxKeys = 4000000L

  /** Everything — prefix selection, candidates, AND the verification sets —
    * derives from the same `posts`, so a df-capped postings table yields one
    * consistent capped-Jaccard semantics.
    *
    * Shuffle shape (round 7): ONE shuffle keys the postings by w (df
    * attach), then ONE shuffle by doc builds a single per-doc row holding
    * the rarity-ordered prefix, the hash-sorted set for verification, and
    * the size — the prior formulation paid a window double-pass (sort by
    * doc) AND a second full-postings groupBy(doc) for collect_set, a whole
    * extra postings-volume shuffle at stress scale. The candidate join
    * also applies the AllPairs length filter (τ·max(sz) ≤ min(sz)): a pair
    * whose sizes alone bound Jaccard below τ never reaches the distinct or
    * the verification join.
    */
  private def prefixFromPosts(posts: DataFrame, dfreq: DataFrame, threshold: Double,
                              nVocab: Long): DataFrame = {
    val dfreqSide = if (nVocab <= BroadcastDfreqMaxKeys) broadcast(dfreq) else dfreq
    val perDoc = posts
      .join(dfreqSide, "w")
      .groupBy(col("doc"))
      .agg(array_sort(collect_list(struct(col("df"), col("w")))).as("wl")) // (df asc, w asc)
      .select(
        col("doc"),
        transform(col("wl"), x => x.getField("w")).as("ordered"),
        size(col("wl")).as("sz"))
      .select(
        col("doc"),
        slice(col("ordered"), lit(1),
          (floor((lit(1.0) - threshold) * col("sz")) + 1).cast("int")).as("prefix"),
        array_sort(col("ordered")).as("set"),
        col("sz"))
      .localCheckpoint(true, ckptLevel(posts))
    // posexplode: each prefix token carries its 0-based rank in the doc's
    // rarity-ordered shingle list — the PPJoin positional filter's input
    val prefix = perDoc.select(col("doc"), col("sz"), posexplode(col("prefix")).as(Seq("p", "w")))
    val cands = prefix
      .as("a")
      .join(prefix.as("b"),
        col("a.w") === col("b.w") && col("a.doc") < col("b.doc") &&
          // 1e-9 slack: a boundary pair (τ·max == min exactly in rationals)
          // must survive double rounding of τ·max; the exact Jaccard filter
          // downstream decides for real
          greatest(col("a.sz"), col("b.sz")) * threshold <=
            least(col("a.sz"), col("b.sz")) + lit(1e-9) &&
          // PPJoin positional filter (Xiao et al. 2008): a token matched at
          // 0-based ranks (pa, pb) caps the overlap at min(sza−pa, szb−pb)
          // (only suffixes from the match onward can still intersect), and
          // Jaccard ≥ τ needs overlap ≥ τ·(sza+szb)/(1+τ). Pairs survive on
          // ANY qualifying match — weaker than PPJoin's first-match bound,
          // so strictly exact; the distinct() below dedupes as before.
          least(col("a.sz") - col("a.p"), col("b.sz") - col("b.p")) + lit(1e-9) >=
            lit(threshold / (1.0 + threshold)) * (col("a.sz") + col("b.sz")))
      .select(col("a.doc").as("d1"), col("b.doc").as("d2"))
      .distinct()
    cands
      .join(perDoc.select(col("doc").as("d1"), col("set").as("s1")), "d1")
      .join(perDoc.select(col("doc").as("d2"), col("set").as("s2")), "d2")
      .withColumn("inter", size(array_intersect(col("s1"), col("s2"))))
      .withColumn(
        "jaccard",
        col("inter").cast(DoubleType) / (size(col("s1")) + size(col("s2")) - col("inter"))
      )
      .filter(col("jaccard") >= threshold)
      .select("d1", "d2", "jaccard")
  }

  /** The unfiltered postings-join formulation (the oracle shape) — the
    * low-fanout strategy, and the equivalence baseline for the
    * prefix-filtered path.
    */
  def ngramJaccardPairsNaive(docs: DataFrame, idCol: String, textCol: String, threshold: Double): DataFrame = {
    val posts = shinglePostings(docs, idCol, textCol)
    jaccardFromPosts(posts.localCheckpoint(true, ckptLevel(posts)), threshold, Long.MaxValue)
  }

  /** Docs-count ceiling for broadcasting the per-doc sizes table. Below it
    * the sz attach is a map-side broadcast join — deleting a full
    * postings-volume shuffle, the single largest term in the naive path's
    * shuffle bill (measured −9 GB of 28 GB at 700×). Above it the shuffle
    * join is the only correct shape. The default is deliberately well under
    * what a driver can physically collect: 8 M docs ≈ 128 MB of raw
    * entries, comfortably inside the default 1g
    * spark.driver.maxResultSize / broadcast build budget — a run that used
    * to succeed via shuffle join must never start failing in the broadcast
    * collect because it sits just under the cutoff. The dispatch itself
    * stays data-driven from the already-computed sizes aggregate.
    */
  private val BroadcastSizesMaxDocs = 8000000L

  /** Per-doc set sizes ride WITH the postings into the self-join (one small
    * extra column per posting row) instead of joining the candidate-pair
    * table against a sizes table twice afterwards: the pair table is the
    * LARGEST relation in the whole operator (every doc pair sharing a
    * shingle), and the old shape re-shuffled it through two sort-merge
    * joins; sz is functionally dependent on the doc key, so min() recovers
    * it exactly in the same aggregation that counts the intersection.
    *
    * `nPostings` is an upper bound on the postings' row count (a doc has at
    * least one posting, so it also bounds the doc count).
    */
  private def jaccardFromPosts(posts: DataFrame, threshold: Double, nPostings: Long): DataFrame = {
    val sizes = posts.groupBy("doc").agg(count(lit(1)).as("sz"))
    // the exact doc count (a ~16 B/doc shuffle — cheap price for knowing
    // whether the 9 GB postings-by-doc shuffle can be skipped) runs only
    // when the posting count alone does not settle it
    val postsSz =
      if (nPostings <= BroadcastSizesMaxDocs || sizes.count() <= BroadcastSizesMaxDocs)
        posts.join(broadcast(sizes), "doc")
      else posts.join(sizes, "doc")
    val inter = postsSz
      .as("a")
      // the AllPairs length filter rides the join condition: J(a,b) ≤
      // min(sz)/max(sz), so a size-incompatible pair can never reach τ and
      // its posting-pair rows are dropped BEFORE the (d1,d2) aggregate —
      // the operator's largest shuffle. 1e-9 absorbs τ·max double rounding
      // on exact-boundary pairs; the exact jaccard filter below decides.
      .join(postsSz.as("b"),
        col("a.w") === col("b.w") && col("a.doc") < col("b.doc") &&
          greatest(col("a.sz"), col("b.sz")) * threshold <=
            least(col("a.sz"), col("b.sz")) + lit(1e-9))
      .groupBy(col("a.doc").as("d1"), col("b.doc").as("d2"))
      .agg(count(lit(1)).as("inter"), min(col("a.sz")).as("sz1"), min(col("b.sz")).as("sz2"))
    inter
      .withColumn("jaccard", col("inter").cast(DoubleType) / (col("sz1") + col("sz2") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("d1", "d2", "jaccard")
  }

  def ngramJaccardPairsSql(threshold: Double): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents
       |), posts AS (
       |  SELECT DISTINCT doc_id AS doc,
       |    unnest(CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
       |           ELSE list_transform(range(1, len(l) - 1), i -> array_to_string(l[i:i+2], ' '))
       |           END) AS w
       |  FROM toks
       |), sizes AS (
       |  SELECT doc, COUNT(*) AS sz FROM posts GROUP BY doc
       |), inter AS (
       |  SELECT a.doc AS d1, b.doc AS d2, COUNT(*) AS inter
       |  FROM posts a JOIN posts b ON a.w = b.w AND a.doc < b.doc
       |  GROUP BY 1, 2
       |)
       |SELECT d1, d2, CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) AS jaccard
       |FROM inter JOIN sizes s1 ON d1 = s1.doc JOIN sizes s2 ON d2 = s2.doc
       |WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= $threshold""".stripMargin

  // ------------------------------------------------------------ MinHash LSH

  /** Word 3-shingles from a MATERIALIZED token-array column (see
    * [[shinglePostings]] for why the two-phase shape matters): the column
    * formulation of the shingles [[minHashSignatures]] hashes, kept as the
    * reference its fused kernel is checked against (OpsSpec) and as the
    * shape the DuckDB oracle replays.
    */
  def shinglesFromTokens(toks: Column): Column =
    when(size(toks) < 3, array(concat_ws(" ", toks))).otherwise(
      transform(
        sequence(lit(1), size(toks) - 2),
        i => concat_ws(" ", element_at(toks, i), element_at(toks, i + 1), element_at(toks, i + 2))
      )
    )

  /** Word 3-shingles (whole text for very short docs). */
  def shingles(text: Column): Column = shinglesFromTokens(TextAnalysis.tokens(text))

  /** Permutation-family modulus (Mersenne prime 2^31-1) and deterministic
    * LCG-derived coefficients: a_i*h + b_i stays below 2^63 under ANSI mode,
    * and both constants are plain integer literals the DuckDB oracle can
    * replay verbatim. The modulus is the one
    * [[graft.functions.MinHashSignaturesExpr]] divides by.
    */
  val MinHashP: Long = graft.functions.MinHashSignaturesExpr.P

  def minHashCoefA(i: Int): Long = {
    val a = (1103515245L * (i + 1) + 12345L) % MinHashP
    if (a == 0L) 1L else a
  }

  def minHashCoefB(i: Int): Long = (2654435761L * i + 1013904223L) % MinHashP

  /** First 15 hex digits of md5(s) as a long via the fused
    * [[graft.functions.Md5PrefixLongExpr]].
    */
  private def md5Prefix15(s: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(graft.functions.Md5PrefixLongExpr(expression(s.cast(BinaryType)), 15))
  }

  /** MinHash signature: ONE md5-derived base hash per shingle, then
    * `numHashes` universal-hash permutations (a_i*h + b_i) mod p. The base
    * hash array is materialized before the permutation passes (two-phase;
    * see [[shinglePostings]]) so md5 runs once per shingle, not 64 times.
    * md5 + linear maps — not xxhash64 — so the oracle can replay the
    * signatures bit-exactly (same trick as [[simHash]]).
    */
  def minHashSignatures(docs: DataFrame, idCol: String, textCol: String, numHashes: Int = 64): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    // all permutation minima in ONE codegen pass over the base hashes
    // (MinHashSignaturesExpr) — bit-identical to the 64 × (transform +
    // array_min) column formulation (asserted in OpsSpec), without the 64
    // interpreted array traversals per document
    val sig = column(graft.functions.MinHashSignaturesExpr(
      expression(col("_hs")),
      Array.tabulate(numHashes)(minHashCoefA),
      Array.tabulate(numHashes)(minHashCoefB)))
    withBaseHashes(docs, idCol, textCol).select(col("doc"), sig.as("sig"), col("shingles"))
  }

  /** The original column-only formulation — the equivalence baseline for
    * [[graft.functions.MinHashSignaturesExpr]] and
    * [[graft.functions.ShingleHashesExpr]] (and the shape the DuckDB oracle
    * replays). A null text has a null `sig`, as in [[minHashSignatures]].
    */
  private[graft] def minHashSignaturesColumns(docs: DataFrame, idCol: String, textCol: String,
                                              numHashes: Int = 64): DataFrame = {
    val sig = when(col("_hs").isNotNull, array(
      (0 until numHashes).map { i =>
        array_min(transform(col("_hs"), h => (lit(minHashCoefA(i)) * h + lit(minHashCoefB(i))) % MinHashP))
      }: _*
    ))
    docs
      .select(col(idCol).as("doc"), TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(col("doc"), array_distinct(shinglesFromTokens(col("_toks"))).as("shingles"))
      .withColumn("_hs", transform(col("shingles"), s => md5Prefix15(s) % MinHashP))
      .withColumn("shingles", transform(col("shingles"), s => xxhash64(s)))
      .select(col("doc"), sig.as("sig"), col("shingles"))
  }

  /** (doc, `_hs`, `shingles`) per doc: the distinct word 3-shingles' md5
    * base hashes (15 hex digits mod [[MinHashP]]) and xxhash64 keys, in
    * first-occurrence order, from ONE fused pass per row
    * ([[graft.functions.ShingleHashesExpr]]: tokens joined once, windows
    * hashed in place and deduped by their bytes) — bit-identical, order
    * included, to `array_distinct(shinglesFromTokens(toks))` followed by the
    * two per-shingle `transform`s (asserted in OpsSpec).
    *
    * The signature family is md5-over-STRINGS (the oracle replays it
    * bit-exactly, so `_hs` derives from the shingle's bytes), but the
    * verification sets carried downstream are only ever intersected for
    * EQUALITY, so the same 8-byte xxhash64 keying as [[shinglePostings]]
    * replaces ~25-byte strings in the signatures checkpoint and both
    * verification rejoins (same ~n²/2⁶⁵ collision caveat, same
    * string-semantics DuckDB oracle).
    */
  private def withBaseHashes(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    val sh = graft.functions.ShingleHashesExpr(expression(TextAnalysis.tokens(col(textCol))), 3, MinHashP)
    docs
      .select(col(idCol).as("doc"), column(sh).as("_sh"))
      .select(col("doc"), col("_sh.hs").as("_hs"), col("_sh.keys").as("shingles"))
  }

  /** Banded LSH candidate pairs: two docs collide when any band of
    * `rowsPerBand` consecutive signature entries is IDENTICAL. The band key
    * is the exact value tuple (an array join key), not a hash of it — a
    * hash collision would admit a candidate the oracle's equality
    * formulation never generates. Spark shuffles on the array's hash anyway,
    * so the exchange stays one narrow row per (doc, band); distinct() bounds
    * repeat candidates across bands.
    *
    * r18 note: keying this join on `xxhash64(band, bv)` instead (guide §2.3
    * "shuffle keys instead of payloads", 16 B rows instead of ~48 B) was
    * implemented and MEASURED — it cut the op's shuffle volume 30%
    * (3,967 → 2,772 MB at 700×) but made every consumer SLOWER in wall
    * time (minhash +35%, incremental_dedup +75%) and structurally broke
    * the steady-state cross path (`Incremental.batchStatusSteady` shuffle
    * 133 → 2,554 MB, records 4.2 M → 9.8 M: the derived key defeats the
    * pruning the exact-tuple join enjoys on the stored corpus side, so the
    * corpus shingle arrays started crossing an exchange). Reverted per
    * guide §1.1 — the "ideal plan" lost to the measured one.
    */
  def lshCandidates(sigs: DataFrame, numHashes: Int = 64, rowsPerBand: Int = 4): DataFrame = {
    val bands = bandKeys(sigs, numHashes, rowsPerBand)
    bands
      .as("x")
      .join(bands.as("y"), col("x.band") === col("y.band") && col("x.bv") === col("y.bv") && col("x.doc") < col("y.doc"))
      .select(col("x.doc").as("d1"), col("y.doc").as("d2"))
      .distinct()
  }

  /** (doc, band, bv) band keys of a signature table — the exact value tuple
    * of each band of `rowsPerBand` consecutive signature entries. The ONE
    * definition of the banding layout, shared by the self-join path above
    * and the cross-set path ([[Incremental.crossNearDupPairs]]) so the two
    * can never drift apart (the incremental oracle's value-identity proof
    * assumes identical banding).
    */
  def bandKeys(sigs: DataFrame, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val numBands = numHashes / rowsPerBand
    sigs.select(
      col("doc"),
      posexplode(
        array((0 until numBands).map { b =>
          array((0 until rowsPerBand).map(r => element_at(col("sig"), b * rowsPerBand + r + 1)): _*)
        }: _*)
      ).as(Seq("band", "bv")))
  }

  /** Exact shingle-set Jaccard verification over candidate pairs carrying
    * `sh1`/`sh2` set columns: keeps pairs with Jaccard >= `threshold` and
    * replaces the set columns with the `jaccard` value. Shared by the
    * self-join and cross-set LSH paths for the same no-drift reason as
    * [[bandKeys]].
    */
  def verifiedJaccard(withSets: DataFrame, threshold: Double): DataFrame =
    withSets
      .withColumn("inter", size(array_intersect(col("sh1"), col("sh2"))))
      .withColumn("jaccard",
        col("inter").cast(DoubleType) / (size(col("sh1")) + size(col("sh2")) - col("inter")))
      .filter(col("jaccard") >= threshold)
      .drop("sh1", "sh2", "inter")

  /** D2 (probabilistic flavor): LSH candidates verified by exact shingle-set
    * Jaccard >= threshold. Signatures within [[DriverMaxLongs]] finish on
    * the driver (see the object header).
    */
  def nearDupPairs(docs: DataFrame, idCol: String, textCol: String, threshold: Double,
                   numHashes: Int = 64, rowsPerBand: Int = 4): DataFrame =
    nearDupPairsWith(docs, idCol, textCol, threshold, numHashes, rowsPerBand, DriverMaxLongs)

  /** [[nearDupPairs]] with the driver path's bound as a parameter. */
  private[ops] def nearDupPairsWith(docs: DataFrame, idCol: String, textCol: String, threshold: Double,
                                    numHashes: Int, rowsPerBand: Int, driverMaxLongs: Long): DataFrame = {
    // a checkpoint, NOT cache(): the signature subplan (md5 + 64
    // permutation passes) feeds the banded self-join twice plus the two
    // shingle-set rejoins, so it must materialize once — but cache() pins the
    // blocks in the CacheManager for the whole session (the r2/r3 leak),
    // while checkpoint blocks are dropped by the ContextCleaner as soon as
    // the result plan is unreferenced.
    val sigsPlan = minHashSignatures(docs, idCol, textCol, numHashes)
    corpusPass(log, "[minhash]", CorpusPass(sigsPlan, signatureLongs(sigsPlan.schema)), driverMaxLongs)(
      pairsOnDriver(sigsPlan, driverMaxLongs) {
        (chunks, out) => minHashPairsOnDriver(chunks, threshold, numHashes / rowsPerBand, rowsPerBand, out)
      })(lshPairsFromSigs(_, threshold, numHashes, rowsPerBand))
  }

  /** The distributed plan of [[nearDupPairs]] over checkpointed signatures. */
  private def lshPairsFromSigs(sigs: DataFrame, threshold: Double, numHashes: Int, rowsPerBand: Int): DataFrame = {
    val cands = lshCandidates(sigs, numHashes, rowsPerBand)
    val withSets = cands
      .join(sigs.select(col("doc").as("d1"), col("shingles").as("sh1")), "d1")
      .join(sigs.select(col("doc").as("d2"), col("shingles").as("sh2")), "d2")
    verifiedJaccard(withSets, threshold).select("d1", "d2", "jaccard")
  }

  // ------------------------------------------ driver path of the pair ops

  /** The driver path's bound, in collected longs: 4 Mi longs, 32 MiB of
    * primitive arrays. A driver read stops encoding past it; a checkpoint's
    * own pass counts the longs its rows encode to and sends a partition's
    * longs only within its share of the bound; the verified pairs (3 longs
    * each) are held to it too, so driver memory stays within a small
    * multiple of it on any input. On a 4-vCPU VM
    * the driver path beat the distributed plan at 1 k, 8 k and 32 k docs
    * (the 32 k signatures, forced past the bound, too), so memory, not a
    * crossover, sets it.
    */
  private[ops] val DriverMaxLongs: Long = 4L << 20

  /** The most lines an op's corpus pass reads on the driver
    * ([[corpusPass]]), set by the crossover of the driver read against the
    * checkpoint job: measured per op over seeded 4mz corpora (zstd-3
    * columnar, 3 files) on a 4-vCPU VM under `local[3]`, as driver/job ms
    * at 1 k, 2 k, 4 k and 16 k docs: MinHash pairs 97/90, 136/97, 204/155,
    * 736/410; n-gram pairs 54/65, 65/75, 146/113, 494/331; span coverage
    * 54/67, 71/75, 125/100, 432/249; the canonical sizing pass 28/45,
    * 31/39, 46/49, 120/73. The read runs on one thread against the job's
    * three, so the hashing ops cross first. Summed over the four ops it
    * wins at 1 k (233/267) and loses at 2 k (303/284); the bound sits
    * under the interpolated crossover, about 1.6 k, and far under the
    * query strategy's [[graft.plans.McDriverScanStrategy.MaxDecodedLines]].
    */
  private[ops] val DriverReadMaxLines: Long = 1536

  /** A partition's encoded longs: all counted, and kept while there are at
    * most `keep` of them (`result` is null past that).
    */
  private[ops] final class EncodedLongs(keep: Long) {
    var n = 0L
    private var b = new scala.collection.mutable.ArrayBuilder.ofLong
    def +=(x: Long): Unit = {
      n += 1
      if (b != null) { if (n > keep) b = null else b += x }
    }
    /** Past `keep`: further longs need only be counted (`n += m`). */
    def dropped: Boolean = b == null
    def result: Array[Long] = if (b == null) null else b.result()
  }

  /** Writes a corpus-pass row as longs. The same function sizes the pass
    * and fills the arrays the driver solves over, so the bound is checked
    * on exactly what the driver holds.
    */
  private[ops] type Encode = (InternalRow, EncodedLongs) => Unit

  /** Writes a partition of a corpus pass's checkpoint as longs. */
  private type EncodeRows = (Iterator[InternalRow], EncodedLongs) => Unit

  /** An op's corpus pass: `plan` (id column `doc`), a chain of Project and
    * Filter over the docs that a driver read can take, with `row`, its
    * rows' encoding (None for a non-integral id); and `ck`, what the pass
    * checkpoints when the read is refused or the distributed plan runs,
    * with `rows`, a partition's encoding into the longs `row` gives for
    * the same docs.
    */
  private[ops] final case class CorpusPass(plan: DataFrame, row: Option[Encode], ck: DataFrame,
                                           rows: Option[EncodeRows])

  private[ops] object CorpusPass {
    /** A pass that checkpoints its own plan. */
    def apply(plan: DataFrame, row: Option[Encode]): CorpusPass =
      CorpusPass(plan, row, plan, row.map(write => (rows, out) => rows.foreach(write(_, out))))
  }

  /** The doc id as a long, for an integral id type. */
  private[ops] def integralId(dt: DataType): Option[(InternalRow, Int) => Long] = dt match {
    case LongType    => Some((r, i) => r.getLong(i))
    case IntegerType => Some((r, i) => r.getInt(i).toLong)
    case ShortType   => Some((r, i) => r.getShort(i).toLong)
    case ByteType    => Some((r, i) => r.getByte(i).toLong)
    case _           => None
  }

  private def putArray(a: ArrayData, out: EncodedLongs): Unit = {
    val n = a.numElements()
    out += n
    var i = 0
    // a null element (none is produced) keeps its own value, equal only to
    // another null, as in the band join
    while (i < n) { out += (if (a.isNullAt(i)) Long.MinValue else a.getLong(i)); i += 1 }
  }

  /** Signature rows (doc, sig, shingles) as doc, |sig|, sig…, |shingles|,
    * shingles…. A null doc id or a null text (null sig and shingles) never
    * pairs, so such rows are left out.
    */
  private def signatureLongs(schema: StructType): Option[Encode] =
    integralId(schema("doc").dataType).map { id =>
      val (d, s, h) = (schema.fieldIndex("doc"), schema.fieldIndex("sig"), schema.fieldIndex("shingles"))
      (r, out) =>
        if (!r.isNullAt(d) && !r.isNullAt(s) && !r.isNullAt(h)) {
          out += id(r, d)
          putArray(r.getArray(s), out)
          putArray(r.getArray(h), out)
        }
    }

  /** Shingle-set rows (doc, ws) as runs doc, |ws|, ws…: the postings of a
    * doc row, as [[postingLongs]] writes them. A null doc id never pairs; a
    * null text, or one with no shingle, has no postings.
    */
  private def shingleSetLongs(schema: StructType): Option[Encode] =
    integralId(schema("doc").dataType).map { id =>
      val (d, w) = (schema.fieldIndex("doc"), schema.fieldIndex("ws"))
      (r, out) =>
        if (!r.isNullAt(d) && !r.isNullAt(w) && r.getArray(w).numElements() > 0) {
          out += id(r, d)
          putArray(r.getArray(w), out)
        }
    }

  /** Posting rows (doc, w) as runs doc, n, w1…wn over consecutive rows of
    * one doc (a doc's postings are adjacent: they come from one exploded
    * row). A null doc id never pairs; a null text has no postings.
    */
  private def postingLongs(schema: StructType): Option[EncodeRows] =
    integralId(schema("doc").dataType).map { id =>
      val (d, w) = (schema.fieldIndex("doc"), schema.fieldIndex("w"))
      (rows, out) => {
        var run = new Array[Long](64)
        var n = 0
        var doc = 0L
        def flush(): Unit = {
          out += doc; out += n
          var i = 0
          while (i < n) { out += run(i); i += 1 }
          n = 0
        }
        rows.foreach { r =>
          if (!r.isNullAt(d)) {
            val x = id(r, d)
            if (n > 0 && x != doc) flush()
            doc = x
            if (n == run.length) run = java.util.Arrays.copyOf(run, 2 * n)
            run(n) = r.getLong(w)
            n += 1
          }
        }
        if (n > 0) flush()
      }
    }

  /** `plan` checkpointed locally; the checkpoint's pass also counts each
    * partition's encoded longs and returns them while they fit the
    * partition's share of `maxLongs`, so the driver never holds more than
    * that: (count, longs or null) per partition.
    */
  private def sizedCheckpoint(plan: DataFrame, write: EncodeRows, maxLongs: Long)
      : (DataFrame, Array[(Long, Array[Long])]) =
    org.apache.spark.sql.graftbridge.PlanBridge.localCheckpoint(plan, ckptLevel(plan)) { parts =>
      val keep = maxLongs / math.max(1, parts)
      rows => { val e = new EncodedLongs(keep); write(rows, e); (e.n, e.result) }
    }

  /** An op's single corpus pass and the path it takes, logged as one INFO
    * line opening with `what` that names the pass (the driver read, or its
    * refusal and why) and the path:
    *
    *  - with an integral id, the driver read comes first
    *    ([[graft.plans.McDriverScan.read]]): the rows of a small 4mc corpus
    *    are encoded on the driver, the read stopping once they pass
    *    `maxLongs`, and within the bound `solve` finishes the op there, so
    *    the op runs no Spark job;
    *  - a read whose longs pass `maxLongs` ("over longs") takes
    *    `distributed` at once;
    *  - a refused read ("not 4mc", "no stats", "over files", "over lines")
    *    takes the checkpoint job over the pass's `ck`, whose pass encodes
    *    each partition's rows as it writes them, and within `maxLongs`
    *    `solve` finishes the op over every partition's longs (a partition
    *    that passed its share of the bound on that pass is collected by one
    *    more job);
    *  - a non-integral id, longs over the bound, or `solve` giving up (with
    *    its reason) takes `distributed`, the op's plan over a checkpoint of
    *    `ck` (the one the pass made, or one made then).
    */
  private[ops] def corpusPass(log: org.slf4j.Logger, what: String, pass: CorpusPass,
                              maxLongs: Long)(solve: Array[Array[Long]] => Either[String, DataFrame])(
                              distributed: DataFrame => DataFrame): DataFrame = {
    def finish(how: String, longs: Long, chunks: => Array[Array[Long]], ck: => DataFrame): DataFrame =
      if (longs > maxLongs) {
        log.info(s"$what $how: $longs longs > $maxLongs -> distributed")
        distributed(ck)
      } else solve(chunks) match {
        case Right(df) =>
          log.info(s"$what $how: $longs longs <= $maxLongs -> driver")
          df
        case Left(why) =>
          log.info(s"$what $how: $longs longs <= $maxLongs, $why -> distributed")
          distributed(ck)
      }
    def checkpointed = pass.ck.localCheckpoint(true, ckptLevel(pass.ck))
    (pass.row, pass.rows) match {
      case (Some(write), Some(writeRows)) =>
        val e = new EncodedLongs(maxLongs)
        graft.plans.McDriverScan.read(pass.plan, DriverReadMaxLines) { r => write(r, e); e.dropped } match {
          case Right(_) if e.dropped =>
            log.info(s"$what driver read refused (over longs: past $maxLongs) -> distributed")
            distributed(checkpointed)
          case Right(_) => finish("driver read", e.n, Array(e.result), checkpointed)
          case Left(refused) =>
            val (ck, parts) = sizedCheckpoint(pass.ck, writeRows, maxLongs)
            finish(s"driver read refused ($refused), checkpoint job", parts.map(_._1).sum,
              partLongs(checkpointRows(ck), writeRows, parts), ck)
        }
      case _ =>
        log.info(s"$what doc id type ${pass.plan.schema("doc").dataType.simpleString} -> distributed")
        distributed(checkpointed)
    }
  }

  /** Every partition's longs, given a sizing pass's `parts` over `rows`: a
    * partition whose longs passed its share there (null) is encoded again
    * by one more job, which reads only those partitions.
    */
  private def partLongs(rows: org.apache.spark.rdd.RDD[InternalRow], write: EncodeRows,
                        parts: Array[(Long, Array[Long])]): Array[Array[Long]] = {
    val late = parts.indices.filter(parts(_)._2 == null)
    val chunks = parts.map(_._2)
    if (late.nonEmpty)
      late.zip(rows.sparkContext.runJob(rows, (it: Iterator[InternalRow]) => {
        val e = new EncodedLongs(Long.MaxValue); write(it, e); e.result
      }, late)).foreach { case (i, a) => chunks(i) = a }
    chunks
  }

  /** The driver solver of a pair op over checkpoint `ck`: `pairs` fills a
    * [[PairOut]] held to `maxLongs` / 3 pairs (3 longs each), or gives up
    * past it.
    */
  private def pairsOnDriver(ck: DataFrame, maxLongs: Long)(pairs: (Array[Array[Long]], PairOut) => Boolean)
      : Array[Array[Long]] => Either[String, DataFrame] = chunks => {
    val out = new PairOut(maxLongs / 3)
    if (pairs(chunks, out)) Right(out.toDF(ck.sparkSession, ck.schema("doc")))
    else Left(s"over ${out.maxPairs} verified pairs")
  }

  /** The verified (d1, d2, jaccard) pairs of a driver-path op, at most
    * `maxPairs` of them.
    */
  private final class PairOut(val maxPairs: Long) {
    private val d1 = new scala.collection.mutable.ArrayBuilder.ofLong
    private val d2 = new scala.collection.mutable.ArrayBuilder.ofLong
    private val jac = new scala.collection.mutable.ArrayBuilder.ofDouble
    private var n = 0L

    /** Adds a pair; false once there are more than `maxPairs`. */
    def add(a: Long, b: Long, j: Double): Boolean = {
      n += 1
      n <= maxPairs && { d1 += a; d2 += b; jac += j; true }
    }

    /** A local relation of the pairs, ids of `doc`'s type. */
    def toDF(spark: org.apache.spark.sql.SparkSession, doc: StructField): DataFrame = {
      val id = idValue(doc.dataType)
      val (a, b, j) = (d1.result(), d2.result(), jac.result())
      localRelation(spark, pairSchema(doc),
        Array.tabulate[InternalRow](a.length)(i => new GenericInternalRow(Array[Any](id(a(i)), id(b(i)), j(i)))))
    }
  }

  /** An integral id of type `dt` from its long. */
  private[ops] def idValue(dt: DataType): Long => Any = dt match {
    case IntegerType => _.toInt
    case ShortType   => _.toShort
    case ByteType    => _.toByte
    case _           => x => x
  }

  /** A driver path's result: a local relation of `rows` (values of
    * `schema`'s types).
    */
  private[ops] def localRelation(spark: org.apache.spark.sql.SparkSession, schema: StructType,
                                 rows: Seq[InternalRow]): DataFrame =
    org.apache.spark.sql.graftbridge.PlanBridge.ofRows(spark,
      LocalRelation(org.apache.spark.sql.catalyst.types.DataTypeUtils.toAttributes(schema), rows))

  /** The count of common elements of two ascending, distinct runs. */
  private def commonCount(a: Array[Long], ai: Int, an: Int, b: Array[Long], bi: Int, bn: Int): Int = {
    var i = ai
    var j = bi
    var c = 0
    while (i < ai + an && j < bi + bn) {
      if (a(i) < b(j)) i += 1
      else if (a(i) > b(j)) j += 1
      else { c += 1; i += 1; j += 1 }
    }
    c
  }

  /** Sorts `a(from until to)` and removes repeats in place; returns the
    * end of the distinct run.
    */
  private def sortDistinct(a: Array[Long], from: Int, to: Int): Int = {
    java.util.Arrays.sort(a, from, to)
    var u = from
    var q = from
    while (q < to) {
      if (q == from || a(q) != a(u - 1)) { a(u) = a(q); u += 1 }
      q += 1
    }
    u
  }

  /** Indices of `keys` in ascending key order (stable); the identity when
    * they already are, as a scan's ids usually are.
    */
  private def ascending(keys: Array[Long]): Array[Int] = {
    var i = 1
    while (i < keys.length && keys(i - 1) <= keys(i)) i += 1
    if (i >= keys.length) Array.range(0, keys.length)
    else Array.range(0, keys.length).sortBy(keys(_))
  }

  /** Dense ids of long keys, in first-seen order: an open-addressing table
    * of primitive arrays.
    */
  private[ops] final class LongIds(expected: Int) {
    private var mask = Integer.highestOneBit(math.max(expected, 8)) * 4 - 1
    private var keys = new Array[Long](mask + 1)
    private var slots = new Array[Int](mask + 1) // id + 1; 0 is empty
    var size = 0

    private def home(k: Long): Int = ((k * 0x9E3779B97F4A7C15L) >>> 32).toInt & mask

    def id(k: Long): Int = {
      var i = home(k)
      while (slots(i) != 0) {
        if (keys(i) == k) return slots(i) - 1
        i = (i + 1) & mask
      }
      keys(i) = k
      size += 1
      slots(i) = size
      if (2 * size > mask) grow()
      size - 1
    }

    private def grow(): Unit = {
      val (k0, s0) = (keys, slots)
      mask = 2 * mask + 1
      keys = new Array[Long](mask + 1)
      slots = new Array[Int](mask + 1)
      var j = 0
      while (j < k0.length) {
        if (s0(j) != 0) {
          var i = home(k0(j))
          while (slots(i) != 0) i = (i + 1) & mask
          keys(i) = k0(j); slots(i) = s0(j)
        }
        j += 1
      }
    }
  }

  /** The result schema of both pair ops over a `doc` column: the
    * distributed plans' (d1, d2, jaccard).
    */
  private def pairSchema(doc: StructField): StructType = StructType(Seq(
    StructField("d1", doc.dataType, doc.nullable),
    StructField("d2", doc.dataType, doc.nullable),
    StructField("jaccard", DoubleType, nullable = true)))

  /** [[ngramJaccardFromRaw]] on the driver over collected posting runs:
    * document frequencies with the `cap`; per doc its posting count (sz)
    * and its distinct shingles, ranked rarest first (df, then first-seen
    * order); an inverted index over each doc's AllPairs prefix, the first
    * floor((1-t)|U|)+1 of its |U| distinct shingles (1e-9 slack only
    * lengthens it); the same length filter as the join; and the exact
    * count of distinct common shingles. Every pair with Jaccard >= t shares
    * a prefix shingle, so the pairs are the join's. False if they pass
    * `out`'s bound.
    */
  private def ngramPairsOnDriver(chunks: Array[Array[Long]], threshold: Double, cap: Long,
                                 out: PairOut): Boolean = {
    var nRuns, nPosts = 0
    for (c <- chunks) {
      var i = 0
      while (i < c.length) { val n = c(i + 1).toInt; nRuns += 1; nPosts += n; i += 2 + n }
    }
    // runs in collect order: doc, first posting; each posting's shingle id
    val runDoc = new Array[Long](nRuns)
    val runAt = new Array[Int](nRuns + 1)
    val wv = new Array[Int](nPosts)
    val vocab = new LongIds(nPosts / 4)
    var r, p = 0
    for (c <- chunks) {
      var i = 0
      while (i < c.length) {
        val end = i + 2 + c(i + 1).toInt
        runDoc(r) = c(i); runAt(r) = p
        var q = i + 2
        while (q < end) { wv(p) = vocab.id(c(q)); p += 1; q += 1 }
        r += 1; i = end
      }
    }
    runAt(nRuns) = nPosts
    // each shingle's df, then its rank in (df, id) order; capped: -1
    val nv = vocab.size
    val df = new Array[Int](nv)
    var q = 0
    while (q < nPosts) { df(wv(q)) += 1; q += 1 }
    val byDf = new Array[Long](nv)
    var v = 0
    while (v < nv) { byDf(v) = (df(v).toLong << 32) | v; v += 1 }
    java.util.Arrays.sort(byDf)
    val rank = new Array[Int](nv)
    v = 0
    while (v < nv) {
      val w = (byDf(v) & 0xffffffffL).toInt
      rank(w) = if (df(w) > cap) -1 else v
      v += 1
    }
    // docs in id order (a repeated id's runs merge): id, sz, distinct ranks
    val order = ascending(runDoc)
    val docId = new scala.collection.mutable.ArrayBuilder.ofLong
    val docSz = new scala.collection.mutable.ArrayBuilder.ofLong
    val docOff = new scala.collection.mutable.ArrayBuilder.ofInt
    val toks = new Array[Long](nPosts)
    var nt, k = 0
    while (k < nRuns) {
      val id = runDoc(order(k))
      val from = nt
      while (k < nRuns && runDoc(order(k)) == id) {
        q = runAt(order(k))
        while (q < runAt(order(k) + 1)) {
          val rk = rank(wv(q))
          if (rk >= 0) { toks(nt) = rk; nt += 1 }
          q += 1
        }
        k += 1
      }
      docId += id; docSz += nt - from; docOff += from
      nt = sortDistinct(toks, from, nt)
    }
    docOff += nt
    val (ids, sz, off) = (docId.result(), docSz.result(), docOff.result())
    val nd = ids.length
    val prefix = new Array[Int](nd)
    var d = 0
    while (d < nd) {
      val u = off(d + 1) - off(d)
      prefix(d) = math.min(u, math.max(1, math.floor((1.0 - threshold) * u + 1e-9).toInt + 1))
      d += 1
    }
    // inverted index: each rank's docs (ascending) with it in their prefix
    val start = new Array[Int](nv + 1)
    d = 0
    while (d < nd) { q = off(d); while (q < off(d) + prefix(d)) { start(toks(q).toInt + 1) += 1; q += 1 }; d += 1 }
    v = 1
    while (v <= nv) { start(v) += start(v - 1); v += 1 }
    val fill = start.clone()
    val lists = new Array[Int](start(nv))
    d = 0
    while (d < nd) {
      q = off(d)
      while (q < off(d) + prefix(d)) { val t = toks(q).toInt; lists(fill(t)) = d; fill(t) += 1; q += 1 }
      d += 1
    }
    val mark = Array.fill(nd)(-1)
    var x = 0
    while (x < nd) {
      q = off(x)
      while (q < off(x) + prefix(x)) {
        val t = toks(q).toInt
        var e = start(t)
        while (e < start(t + 1) && lists(e) < x) {
          val y = lists(e)
          if (mark(y) != x) {
            mark(y) = x
            val a = sz(y)
            val b = sz(x)
            // the join's length filter, same slack
            if (math.max(a, b) * threshold <= math.min(a, b) + 1e-9) {
              val inter = commonCount(toks, off(y), off(y + 1) - off(y), toks, off(x), off(x + 1) - off(x))
              val j = inter.toDouble / (a + b - inter)
              if (j >= threshold && !out.add(ids(y), ids(x), j)) return false
            }
          }
          e += 1
        }
        q += 1
      }
      x += 1
    }
    true
  }

  /** A band of `len` signature values at `at` of `a`: equal keys hold equal
    * value tuples, as the band join's array key.
    */
  private final class BandKey(val a: Array[Long], val at: Int, val len: Int) {
    override def hashCode: Int = {
      var h = 17L
      var i = 0
      while (i < len) { h = h * 0x9E3779B97F4A7C15L + a(at + i); i += 1 }
      (h ^ (h >>> 32)).toInt
    }
    override def equals(o: Any): Boolean = o match {
      case k: BandKey => java.util.Arrays.equals(a, at, at + len, k.a, k.at, k.at + len)
      case _          => false
    }
  }

  /** [[lshPairsFromSigs]] on the driver over collected signature rows:
    * rows grouped per band by their exact band tuple; for each doc, every
    * lower doc sharing a group with one of its rows is a candidate once, and
    * each (row of d1, row of d2) of a candidate is verified as the join
    * verifies it (distinct common shingles over the arrays' sizes). False
    * if the pairs pass `out`'s bound.
    */
  private def minHashPairsOnDriver(chunks: Array[Array[Long]], threshold: Double, numBands: Int,
                                   rowsPerBand: Int, out: PairOut): Boolean = {
    val rowDoc = new scala.collection.mutable.ArrayBuilder.ofLong
    val rowChunk, rowSig = new scala.collection.mutable.ArrayBuilder.ofInt
    for ((c, ci) <- chunks.zipWithIndex) {
      var i = 0
      while (i < c.length) {
        val k = c(i + 1).toInt
        require(k >= numBands * rowsPerBand, s"signature of $k values for $numBands bands of $rowsPerBand")
        rowDoc += c(i); rowChunk += ci; rowSig += i + 2
        i += 3 + k + c(i + 2 + k).toInt
      }
    }
    // rows in doc id order, with each row's doc index and each doc's rows
    val docs0 = rowDoc.result()
    val order = ascending(docs0)
    val n = order.length
    val (chunkOf, sigAt) = {
      val (c, s) = (rowChunk.result(), rowSig.result())
      (order.map(c(_)), order.map(s(_)))
    }
    val docOf = new Array[Int](n)
    val ids = new scala.collection.mutable.ArrayBuilder.ofLong
    val docStart = new scala.collection.mutable.ArrayBuilder.ofInt
    var nd = 0
    var s = 0
    while (s < n) {
      val id = docs0(order(s))
      if (s == 0 || id != docs0(order(s - 1))) { ids += id; docStart += s; nd += 1 }
      docOf(s) = nd - 1
      s += 1
    }
    docStart += n
    val (docId, rowsAt) = (ids.result(), docStart.result())
    // each row's shingle-array size and its distinct shingles, ascending
    val shSize = new Array[Int](n)
    val setOff = new Array[Int](n + 1)
    s = 0
    while (s < n) {
      val c = chunks(chunkOf(s))
      shSize(s) = c(sigAt(s) + c(sigAt(s) - 1).toInt).toInt
      setOff(s + 1) = setOff(s) + shSize(s)
      s += 1
    }
    val sets = new Array[Long](setOff(n))
    val setEnd = new Array[Int](n)
    s = 0
    while (s < n) {
      val c = chunks(chunkOf(s))
      System.arraycopy(c, sigAt(s) + c(sigAt(s) - 1).toInt + 1, sets, setOff(s), shSize(s))
      setEnd(s) = sortDistinct(sets, setOff(s), setOff(s + 1))
      s += 1
    }
    // group id of every (row, band), and each group's rows ascending
    val gid = new Array[Int](n * numBands)
    val groups = new java.util.HashMap[BandKey, Integer]
    var ng = 0
    for (b <- 0 until numBands) {
      groups.clear()
      s = 0
      while (s < n) {
        val g = groups.putIfAbsent(new BandKey(chunks(chunkOf(s)), sigAt(s) + b * rowsPerBand, rowsPerBand), ng)
        gid(s * numBands + b) = if (g == null) { ng += 1; ng - 1 } else g.intValue
        s += 1
      }
    }
    val gStart = new Array[Int](ng + 1)
    var i = 0
    while (i < gid.length) { gStart(gid(i) + 1) += 1; i += 1 }
    i = 1
    while (i <= ng) { gStart(i) += gStart(i - 1); i += 1 }
    val fill = gStart.clone()
    val members = new Array[Int](gid.length)
    i = 0 // (row, band) slots in row order, so each group's rows ascend
    while (i < gid.length) { val g = gid(i); members(fill(g)) = i / numBands; fill(g) += 1; i += 1 }
    // (row y of d1, row x of d2) as the verification join computes it
    def verify(dy: Int, y: Int, dx: Int, x: Int): Boolean = {
      val inter = commonCount(sets, setOff(y), setEnd(y) - setOff(y), sets, setOff(x), setEnd(x) - setOff(x))
      val j = inter.toDouble / (shSize(y) + shSize(x) - inter)
      j < threshold || out.add(docId(dy), docId(dx), j)
    }
    val mark = Array.fill(nd)(-1)
    var ok = true
    i = 0 // (row, band) slot: row i / numBands of doc dx
    while (ok && i < gid.length) {
      val dx = docOf(i / numBands)
      val g = gid(i)
      var e = gStart(g)
      while (ok && e < gStart(g + 1) && docOf(members(e)) < dx) {
        val dy = docOf(members(e))
        if (mark(dy) != dx) {
          mark(dy) = dx
          var y = rowsAt(dy)
          while (ok && y < rowsAt(dy + 1)) {
            var x = rowsAt(dx)
            while (ok && x < rowsAt(dx + 1)) { ok = verify(dy, y, dx, x); x += 1 }
            y += 1
          }
        }
        e += 1
      }
      i += 1
    }
    ok
  }

  /** DuckDB mirror of [[nearDupPairs]]: same shingles, same md5-based
    * permutation family, same band-equality candidate generation, same
    * exact-Jaccard verification. The band check is a quadratic doc×doc join
    * here — fine at oracle scale; the engine's banded shuffle is the one
    * that has to scale.
    */
  def minHashPairsSql(threshold: Double, numHashes: Int = 64, rowsPerBand: Int = 4): String = {
    val P = MinHashP
    val sigCols = (0 until numHashes)
      .map(i => s"MIN((${minHashCoefA(i)} * h + ${minHashCoefB(i)}) % $P) AS s$i")
      .mkString(",\n    ")
    val numBands = numHashes / rowsPerBand
    val bandEq = (0 until numBands)
      .map { b =>
        (0 until rowsPerBand)
          .map(r => s"x.s${b * rowsPerBand + r} = y.s${b * rowsPerBand + r}")
          .mkString("(", " AND ", ")")
      }
      .mkString("\n    OR ")
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents
       |), posts AS (
       |  SELECT DISTINCT doc_id AS doc,
       |    unnest(CASE WHEN len(l) < 3 THEN [array_to_string(l, ' ')]
       |           ELSE list_transform(range(1, len(l) - 1), i -> array_to_string(l[i:i+2], ' '))
       |           END) AS w
       |  FROM toks
       |), hashed AS (
       |  SELECT doc, CAST(('0x' || substring(md5(w), 1, 15)) AS BIGINT) % $P AS h FROM posts
       |), sigs AS (
       |  SELECT doc, $sigCols
       |  FROM hashed GROUP BY doc
       |), cand AS (
       |  SELECT x.doc AS d1, y.doc AS d2 FROM sigs x JOIN sigs y ON x.doc < y.doc
       |  WHERE $bandEq
       |), sizes AS (
       |  SELECT doc, COUNT(*) AS sz FROM posts GROUP BY doc
       |), inter AS (
       |  SELECT c.d1, c.d2, COUNT(*) AS inter
       |  FROM cand c JOIN posts p1 ON p1.doc = c.d1 JOIN posts p2 ON p2.doc = c.d2 AND p1.w = p2.w
       |  GROUP BY 1, 2
       |)
       |SELECT d1, d2, CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) AS jaccard
       |FROM inter JOIN sizes s1 ON d1 = s1.doc JOIN sizes s2 ON d2 = s2.doc
       |WHERE CAST(inter AS DOUBLE) / (s1.sz + s2.sz - inter) >= $threshold""".stripMargin
  }

  /** Shared recursive-CTE prelude for component-based oracles: MinHash-LSH
    * pairs at `threshold` → undirected edges → transitive reach → `comp`
    * table of (doc, comp) with comp = min reachable id. Quadratic in
    * component size — an oracle-scale formulation.
    */
  private def componentsSqlPrefix(threshold: Double, numHashes: Int, rowsPerBand: Int): String =
    s"""WITH RECURSIVE pairs AS (
       |${minHashPairsSql(threshold, numHashes, rowsPerBand)}
       |), edges AS (
       |  SELECT d1 AS a, d2 AS b FROM pairs UNION SELECT d2, d1 FROM pairs
       |), reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
       |), comp AS (
       |  SELECT a AS doc, LEAST(a, MIN(b)) AS comp FROM reach GROUP BY a
       |)""".stripMargin

  /** DuckDB mirror of [[duplicateClusters]] plus the registered cluster-size
    * histogram.
    */
  def clusterSizesSql(threshold: Double, numHashes: Int = 64, rowsPerBand: Int = 4): String =
    componentsSqlPrefix(threshold, numHashes, rowsPerBand) +
      s""", csize AS (
       |  SELECT comp, COUNT(*) AS cluster_size FROM comp GROUP BY comp
       |)
       |SELECT cluster_size, COUNT(*) AS n_clusters
       |FROM csize GROUP BY cluster_size ORDER BY cluster_size""".stripMargin

  /** Keep-one-per-cluster selection — the pipeline step that follows pair
    * generation in a real dedup: each near-dup component keeps its canonical
    * document (most tokens, ties → lowest id) and drops the rest. Returns
    * (comp, doc, n_tokens) of the survivors.
    *
    * Components solved on the driver (under the [[duplicateClusters]] cap)
    * are ranked there too; loop-sized components go through a ranking
    * window partitioned by component — clusters are small by construction
    * (they are near-DUP groups), so no skewed partition; the docs join is a
    * hash join on doc id.
    */
  def keepCanonical(pairs: DataFrame, docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val sizedDocs =
      docs.select(col(idCol).as("doc"), TextAnalysis.tokenCount(col(textCol)).cast("long").as("n_tokens"))
    components(pairs) match {
      case Right(local) => canonicalOnDriver(local, sizedDocs)
      case Left(comp) =>
        val w = Window.partitionBy(col("comp")).orderBy(col("n_tokens").desc, col("doc"))
        comp.join(sizedDocs, "doc")
          .withColumn("_rk", row_number().over(w))
          .filter(col("_rk") === 1)
          .select(col("comp"), col("doc"), col("n_tokens"))
    }
  }

  /** [[keepCanonical]] over driver-side components, from one sizing pass
    * over the docs: each doc row is sized, the member rows kept, and the
    * best row per component picked — most tokens, nulls last, ties → lowest
    * id, the window's order. A small 4mc corpus is sized on the driver
    * ([[graft.plans.McDriverScan.read]]), with no Spark job; a refused read
    * takes one scan job, where the components ride to the tasks as a
    * broadcast variable (no exchange job) and the driver merges the tasks'
    * picks. The choice is logged as one INFO line. No shuffle, no window,
    * and no per-call generated classes beyond the scan's.
    */
  private def canonicalOnDriver(local: LocalComponents, sizedDocs: DataFrame): DataFrame = {
    val spark = sizedDocs.sparkSession
    val sized = sizedDocs.select(col("doc").cast("long"), col("n_tokens"))
    def offer(lc: LocalComponents, pick: CanonicalPick)(r: InternalRow): Unit =
      if (!r.isNullAt(0)) {
        val i = java.util.Arrays.binarySearch(lc.docs, r.getLong(0))
        if (i >= 0) pick.offer(lc.comps(i), r.getLong(0), if (r.isNullAt(1)) None else Some(r.getLong(1)))
      }
    val pick = new CanonicalPick
    graft.plans.McDriverScan.read(sized, DriverReadMaxLines) { r => offer(local, pick)(r); false } match {
      case Right(_) => log.info("[canonical] sizing pass: driver read")
      case Left(refused) =>
        log.info(s"[canonical] sizing pass: driver read refused ($refused), scan job")
        val members = spark.sparkContext.broadcast(local)
        val picks = try spark.sparkContext.runJob(sized.queryExecution.toRdd, (it: Iterator[InternalRow]) => {
          val part = new CanonicalPick
          it.foreach(offer(members.value, part))
          part.best.toArray
        }) finally members.destroy()
        for (part <- picks; (c, (doc, n)) <- part) pick.offer(c, doc, n)
    }
    val schema = StructType(Seq(StructField("comp", LongType, nullable = false),
      StructField("doc", LongType, nullable = false), StructField("n_tokens", LongType)))
    localRelation(spark, schema, pick.best.toSeq.sortBy(_._1).map { case (c, (doc, n)) =>
      new GenericInternalRow(Array[Any](c, doc, n.getOrElse(null))): InternalRow
    })
  }

  /** comp -> (doc, n_tokens) of the best row offered so far. */
  private final class CanonicalPick {
    val best = scala.collection.mutable.HashMap.empty[Long, (Long, Option[Long])]
    def offer(c: Long, doc: Long, n: Option[Long]): Unit = {
      val better = best.get(c).forall { case (bd, bn) =>
        if (n != bn) n.exists(x => bn.forall(x > _)) else doc < bd
      }
      if (better) best(c) = (doc, n)
    }
  }

  /** DuckDB mirror of [[keepCanonical]] over the `documents` table. */
  def keepCanonicalSql(threshold: Double, numHashes: Int = 64, rowsPerBand: Int = 4): String =
    componentsSqlPrefix(threshold, numHashes, rowsPerBand) +
      s""", sized AS (
       |  SELECT c.comp, c.doc, ${TextAnalysis.tokenCountSql("d.text")} AS n_tokens
       |  FROM comp c JOIN documents d ON d.doc_id = c.doc
       |)
       |SELECT comp, doc, n_tokens FROM sized
       |QUALIFY ROW_NUMBER() OVER (PARTITION BY comp ORDER BY n_tokens DESC, doc) = 1
       |ORDER BY comp""".stripMargin

  /** Reliable-checkpoint dir of a checkpointed frame (None for local
    * checkpoints — Spark only reports files for reliable ones).
    */
  private def checkpointDirOf(df: DataFrame): Option[String] =
    df.queryExecution.analyzed.collectFirst {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd.getCheckpointFile
    }.flatten

  /** Delete a superseded reliable checkpoint. Spark never cleans these by
    * default (spark.cleaner.referenceTracking.cleanCheckpoints=false), so a
    * maxIter-deep label chain would otherwise leave maxIter full copies of
    * the label table on the checkpoint FS — the GraphX Pregel pattern is to
    * drop iteration i-1 once iteration i is materialized.
    */
  private def dropCheckpoint(df: DataFrame): Unit =
    checkpointDirOf(df).foreach { dir =>
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration).delete(p, true)
    }

  /** Rows per iteration-shuffle partition for [[duplicateClusters]]
    * (~50 MB of unsafe rows at 24 B/edge). The label-propagation loop's
    * relations are label/edge tables of narrow longs, far smaller than the
    * pair-generation stage the session's shuffle width is sized for —
    * running every iteration at the session width made the loop pure task
    * overhead at stress scale (measured r16: 11,367 tasks, most < 1 MB).
    * The width is derived from the measured edge count each run (scale-
    * adaptive, guide §2.2: fewer, larger partitions), clamped to the session
    * width so a genuinely huge edge set still gets the full fan-out.
    *
    * The same figure caps the driver path: an edge set that fits in ONE
    * such partition is collected and solved on the driver instead of
    * looping (≲ 16 MB of longs at the cap: only half of the symmetric
    * edges cross).
    */
  private val CcRowsPerPartitionDefault = 2000000L

  /** Connected components over dup pairs (`d1`, `d2`: non-null doc ids).
    * Returns (doc, comp) for every doc in a pair, where comp = the min doc
    * id of its component.
    *
    * Two paths, chosen from the edge count (the edges are materialized and
    * counted first, so pair generation runs once on either path):
    *
    *   - below `spark.graft.cc.rowsPerPartition` edges (one loop
    *     partition), the edges are collected into primitive long arrays and
    *     solved by union-find on the driver — exact for any diameter, in
    *     two Spark jobs for a pairs plan (checkpoint, then count and
    *     collect), one for a checkpointed one and none for a local relation
    *     (such as a driver-side [[nearDupPairs]] result), where the loop
    *     pays a checkpoint and a convergence probe per iteration. The count
    *     and collect job reads the checkpointed RDD directly, so the path
    *     compiles no query code per call. The result is a local relation.
    *   - at or above it, distributed min-label propagation: each iteration
    *     moves a label one hop, so a component converges after at most its
    *     diameter iterations. `maxIter` caps the loop and truncates
    *     silently: a doc more than `maxIter` hops from its component's min
    *     id keeps a larger label (a split component).
    *
    * Checkpointing each iteration truncates lineage so iteration i does not
    * re-execute the (potentially huge) pair-generation plan i times.
    * `reliableCheckpoint = true` writes iterations to the SparkContext's
    * checkpoint directory instead of executor block storage: on a long
    * many-iteration run over 100 TB, an executor loss then replays from the
    * last checkpoint file rather than recomputing the whole label chain
    * (localCheckpoint blocks die with their executor). Requires
    * `sc.setCheckpointDir` on a fault-tolerant FS.
    */
  def duplicateClusters(pairs: DataFrame, maxIter: Int = 10,
                        reliableCheckpoint: Boolean = false): DataFrame =
    components(pairs, maxIter, reliableCheckpoint) match {
      case Right(local) => local.toDF(pairs.sparkSession)
      case Left(labels) => labels
    }

  /** Components of a driver-side [[duplicateClusters]] run: `docs`
    * ascending, `comps(i)` the component (min doc id) of `docs(i)`.
    */
  private final case class LocalComponents(docs: Array[Long], comps: Array[Long]) {
    def compOf(doc: Long): Long = comps(java.util.Arrays.binarySearch(docs, doc))
    def toDF(spark: org.apache.spark.sql.SparkSession): DataFrame =
      localRelation(spark,
        StructType(Seq(StructField("doc", LongType, nullable = false), StructField("comp", LongType, nullable = false))),
        docs.indices.map(i => new GenericInternalRow(Array[Any](docs(i), comps(i))): InternalRow))
  }

  /** The path choice of [[duplicateClusters]]: the pairs' (d1, d2) are
    * counted, once materialized, by the job that also brings them back
    * while each partition is within its share of the cap (a partition past
    * it, with the total under the cap, is collected by one more job); under
    * the cap the components come back as [[LocalComponents]], otherwise as
    * the label-propagation frame. A local relation or a checkpoint with
    * long ids is read as it is (no job for a local relation, none to
    * materialize either); any other plan is checkpointed once first, so the
    * count and the collect (or the loop) share one run of it.
    */
  private def components(pairs: DataFrame, maxIter: Int = 10,
                         reliableCheckpoint: Boolean = false): Either[DataFrame, LocalComponents] = {
    val ck: DataFrame => DataFrame =
      if (reliableCheckpoint) df => df.checkpoint(eager = true)
      else df => df.localCheckpoint(true, ckptLevel(df))
    val endsPlan = pairs.select(col("d1").as("a"), col("d2").as("b"))
    val longIds = pairs.schema("d1").dataType == LongType && pairs.schema("d2").dataType == LongType
    val (ia, ib) = (pairs.schema.fieldIndex("d1"), pairs.schema.fieldIndex("d2"))
    // the (a, b) rows, as (rows, a's index, b's index), and whether `ends`
    // is a checkpoint made here (and so dropped here)
    val (ends, rows, own) = pairs.queryExecution.optimizedPlan match {
      case lr: LocalRelation if longIds => (endsPlan, Left(lr.data), false)
      case lr: org.apache.spark.sql.execution.LogicalRDD if longIds && lr.rdd.isCheckpointed =>
        (endsPlan, Right(lr.rdd), false)
      case _ =>
        val e = ck(endsPlan)
        (e, Right(checkpointRows(e)), true)
    }
    val (a, b) = if (own) (0, 1) else (ia, ib)
    val rowsPerPart = pairs.sparkSession.conf
      .get("spark.graft.cc.rowsPerPartition", CcRowsPerPartitionDefault.toString).toLong
    // every edge is one (a, b) row and its mirror, so the interleaved (a, b)
    // longs number the edges. One job over a checkpoint counts each
    // partition's longs and brings them back within its share of the cap
    // (the sizing pass of the pair ops' checkpoints).
    val write: EncodeRows = (it, out) => it.foreach { r => out += r.getLong(a); out += r.getLong(b) }
    def encode(it: Iterator[InternalRow], keep: Long) = { val e = new EncodedLongs(keep); write(it, e); (e.n, e.result) }
    val parts = rows match {
      case Left(local) => Array(encode(local.iterator, Long.MaxValue))
      case Right(rdd) =>
        val keep = rowsPerPart / math.max(1, rdd.getNumPartitions)
        rdd.sparkContext.runJob(rdd, (it: Iterator[InternalRow]) => encode(it, keep))
    }
    val nEdges = parts.map(_._1).sum
    if (nEdges < rowsPerPart) {
      val chunks = rows.fold(_ => parts.map(_._2), partLongs(_, write, parts))
      if (own) dropCheckpoint(ends)
      Right(componentsOnDriver(Array.concat(chunks.toIndexedSeq: _*)))
    } else {
      // the loop re-checkpoints the symmetric edges partitioned by b and
      // then drops `ends`' checkpoint if it made it here
      val edges0 = ends.union(ends.select(col("b").as("a"), col("a").as("b")))
      Left(labelPropagation(edges0, own, nEdges, rowsPerPart, maxIter, ck))
    }
  }

  /** The rows of a checkpointed frame, read straight from its checkpointed
    * RDD: a driver-side count or collect over them plans and compiles no
    * query.
    */
  private[ops] def checkpointRows(df: DataFrame): org.apache.spark.rdd.RDD[InternalRow] =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => lr.rdd
      case _ => df.queryExecution.toRdd
    }

  /** Union-find over interleaved (a, b) edge ends, on the driver: doc ids
    * are sorted into dense indices, and every union links the larger root
    * under the smaller, so a root is its component's min index — its min
    * doc id.
    */
  private def componentsOnDriver(ends: Array[Long]): LocalComponents = {
    val ids = ends.clone()
    java.util.Arrays.sort(ids)
    // dedupe in place: ids(0 until n) become the distinct doc ids, ascending
    var n = 0
    for (x <- ids) if (n == 0 || ids(n - 1) != x) { ids(n) = x; n += 1 }
    val parent = Array.tabulate(n)(identity)
    def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    var e = 0
    while (e < ends.length) {
      val ra = find(java.util.Arrays.binarySearch(ids, 0, n, ends(e)))
      val rb = find(java.util.Arrays.binarySearch(ids, 0, n, ends(e + 1)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
      e += 2
    }
    val docs = java.util.Arrays.copyOf(ids, n)
    LocalComponents(docs, Array.tabulate(n)(i => docs(find(i))))
  }

  /** The distributed path of [[duplicateClusters]]: iterative min-label
    * propagation over the checkpointed symmetric edges `edges0`.
    */
  private def labelPropagation(edges0: DataFrame, dropEdges0: Boolean, nEdges: Long, rowsPerPart: Long,
                               maxIter: Int, ck: DataFrame => DataFrame): DataFrame = {
    val spark = edges0.sparkSession
    // the iteration shuffle width comes from the edge count, not the
    // session conf, which is sized for the corpus-volume pair generation
    val sessionParts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // floor at the core count (clamped to the session width): a tiny edge
    // set must not serialize the iterations onto one core — measured at 700×
    // stress (67 k edges): width 1 ran 101.6 s vs 86.5 s at the session's
    // 256; the floor keeps every core busy while still deleting the
    // hundreds of near-empty tasks per iteration
    val parallelismFloor = math.min(sessionParts, spark.sparkContext.defaultParallelism)
    val parts = math.max(parallelismFloor.toLong, math.min(sessionParts.toLong,
      (nEdges + rowsPerPart - 1) / rowsPerPart)).toInt
    // pre-partition + pre-sort edges by the probe key ONCE: checkpoint
    // preserves partitioning and ordering, so the per-iteration join
    // re-exchanges (and re-sorts) only the far smaller labels side instead
    // of the edge table every pass (guide §2.4: share one exchange)
    val edges = ck(edges0.repartition(parts, col("b")).sortWithinPartitions("b"))
    if (dropEdges0) dropCheckpoint(edges0)
    // r18 (r17 verdict #7/#8): the loop no longer mutates the session-global
    // spark.sql.shuffle.partitions — every loop relation is EXPLICITLY
    // repartitioned to `parts` instead, so concurrent queries on the shared
    // session plan at their own width and two concurrent duplicateClusters
    // calls cannot race on the conf restore. Width alignment also deletes
    // the per-iteration labels exchange: `updated` leaves each iteration
    // hash-partitioned by doc at `parts` (checkpoints preserve the physical
    // plan's outputPartitioning), which satisfies BOTH its consumers — the
    // edges join (edges pre-hashed by b at the same width) and the next
    // `least` join — so the only edge-volume exchange per iteration is the
    // explicit (doc, comp) repartition feeding the min aggregate. The
    // pre-exchange partial-agg the implicit groupBy exchange had is an
    // acceptable trade: rows are two longs, and hash-scattering edges by b
    // leaves ~no duplicate `a` per partition to combine anyway.
    var labels = ck(edges
      .select(col("a").as("doc"))
      .repartition(parts, col("doc"))
      .distinct()
      .withColumn("comp", col("doc")))
    var i = 0
    var converged = false
    // labels are monotone non-increasing per doc (least(comp, nbrMin)), so
    // the total label sum strictly decreases iff anything changed — one cheap
    // scalar agg per iteration instead of a join-based change probe
    var prevSum = labels.agg(sum(col("comp"))).head().getLong(0)
    while (i < maxIter && !converged) {
      val nbrMin = edges
        .join(labels, edges("b") === labels("doc"))
        .select(edges("a").as("doc"), col("comp"))
        .repartition(parts, col("doc"))
        .groupBy(col("doc"))
        .agg(min(col("comp")).as("nbrComp"))
      val updatedPlan = labels
        .join(nbrMin, Seq("doc"), "left")
        .select(col("doc"), least(col("comp"), coalesce(col("nbrComp"), col("comp"))).as("comp"))
      val updated = ck(updatedPlan)
      val newSum = updated.agg(sum(col("comp"))).head().getLong(0)
      converged = newSum == prevSum
      prevSum = newSum
      // iteration i is materialized — iteration i-1's reliable checkpoint
      // files are dead (no-op for local checkpoints)
      dropCheckpoint(labels)
      labels = updated
      i += 1
    }
    // the returned frame depends only on the final labels checkpoint
    dropCheckpoint(edges)
    labels
  }

  // ---------------------------------------------------------------- SimHash

  val SimHashBits = 60 // md5-hex-15 fits a signed 64-bit in both engines

  /** 60-bit SimHash over word multiset, hash = first 15 md5 hex digits —
    * identical in DuckDB, so signatures oracle-check exactly.
    */
  def simHash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = docs.select(
      col(idCol).as("doc"),
      explode(TextAnalysis.tokens(col(textCol))).as("w")
    )
    val h = md5Prefix15(col("w"))
    val bitSums = (0 until SimHashBits).map { i =>
      sum(shiftright(h, i).bitwiseAND(1) * 2 - 1).as(s"s$i")
    }
    val sums = words.groupBy("doc").agg(bitSums.head, bitSums.tail: _*)
    val sig = (0 until SimHashBits)
      .map(i => when(col(s"s$i") > 0, shiftleft(lit(1L), i)).otherwise(0L))
      .reduce(_ + _)
    sums.select(col("doc"), sig.as("simhash"))
  }

  def simHashSql: String = {
    val h = "CAST(('0x' || substring(md5(w), 1, 15)) AS BIGINT)"
    val bitSums = (0 until SimHashBits)
      .map(i => s"SUM((($h >> $i) & 1) * 2 - 1) AS s$i")
      .mkString(",\n    ")
    val sig = (0 until SimHashBits)
      .map(i => s"CASE WHEN s$i > 0 THEN (CAST(1 AS BIGINT) << $i) ELSE 0 END")
      .mkString(" + ")
    s"""WITH words AS (
       |  SELECT doc_id AS doc, unnest(string_split_regex(trim(text), '\\s+')) AS w FROM documents
       |), sums AS (
       |  SELECT doc, $bitSums
       |  FROM words GROUP BY doc
       |) SELECT doc, $sig AS simhash FROM sums""".stripMargin
  }

  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))
}
