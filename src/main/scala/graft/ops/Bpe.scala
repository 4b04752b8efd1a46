package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Byte-pair-encoding subword tokenization (Sennrich et al. 2016,
  * "Neural Machine Translation of Rare Words with Subword Units") — the
  * real trained-merges tokenizer, not the regex approximation in
  * [[TextAnalysis]].
  *
  * The published shape, restated for 100 TB:
  *   - TRAINING operates on the word-FREQUENCY table, not the corpus: one
  *     shuffle to (word, count) — map-side combined, output bounded by
  *     vocabulary — then a TakeOrdered cap to `maxWords`, and the merge
  *     loop runs on the driver over that table (Sennrich's own recipe; the
  *     table is ~100k rows regardless of corpus size, so per-merge pair
  *     counting is driver-trivial and needs zero further corpus passes).
  *   - ENCODING is map-only: the learned merge ranks broadcast as a codegen
  *     reference object ([[graft.functions.BpeEncodeExpr]]) and every token
  *     segments independently — no shuffle anywhere.
  */
object Bpe {

  /** Greedy min-rank BPE segmentation of one word: start from characters,
    * repeatedly find the adjacent pair with the LOWEST merge rank and merge
    * every occurrence left-to-right, until no adjacent pair has a rank.
    * This is the standard apply algorithm (GPT-2 / subword-nmt semantics).
    * `endMarker` appends the classic `</w>` terminal symbol before merging.
    */
  def encodeWord(word: String, ranks: Map[(String, String), Int],
                 endMarker: Boolean = false): Vector[String] = {
    if (word.isEmpty) return if (endMarker) Vector("</w>") else Vector.empty
    var syms: Vector[String] = word.map(_.toString).toVector
    if (endMarker) syms = syms :+ "</w>"
    var done = false
    while (!done && syms.length > 1) {
      // lowest-rank adjacent pair present
      var best = Int.MaxValue
      var bi = -1
      var i = 0
      while (i < syms.length - 1) {
        val r = ranks.getOrElse((syms(i), syms(i + 1)), Int.MaxValue)
        if (r < best) { best = r; bi = i }
        i += 1
      }
      if (bi < 0) done = true
      else {
        // merge every occurrence of the chosen pair, left-to-right
        val (x, y) = (syms(bi), syms(bi + 1))
        val out = Vector.newBuilder[String]
        var j = 0
        while (j < syms.length) {
          if (j < syms.length - 1 && syms(j) == x && syms(j + 1) == y) {
            out += (x + y); j += 2
          } else { out += syms(j); j += 1 }
        }
        syms = out.result()
      }
    }
    syms
  }

  /** Train `numMerges` BPE merges from the corpus. One distributed shuffle
    * builds the (word, count) table capped at the `maxWords` most frequent
    * words (TakeOrdered — partial top-k, never a full sort); the merge loop
    * itself runs driver-side on that table exactly as published. Ties break
    * to the lexicographically smallest pair, so training is deterministic.
    * Stops early when no pair occurs at least twice.
    */
  def bpeTrain(docs: DataFrame, textCol: String, numMerges: Int,
               maxWords: Int = 65536, endMarker: Boolean = true): Seq[(String, String)] = {
    val words = docs
      .select(explode(TextAnalysis.tokens(col(textCol))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("w").asc)
      .limit(maxWords)
      .collect().map(r => (r.getString(0), r.getLong(1)))
    // mutable word table: symbol arrays weighted by word frequency
    val table = words.map { case (w, c) =>
      val syms = scala.collection.mutable.ArrayBuffer[String](w.map(_.toString): _*)
      if (endMarker) syms += "</w>"
      (syms, c)
    }
    val merges = Seq.newBuilder[(String, String)]
    var m = 0
    var exhausted = false
    while (m < numMerges && !exhausted) {
      val counts = scala.collection.mutable.HashMap.empty[(String, String), Long]
      table.foreach { case (syms, c) =>
        var i = 0
        while (i < syms.length - 1) {
          val p = (syms(i), syms(i + 1))
          counts(p) = counts.getOrElse(p, 0L) + c
          i += 1
        }
      }
      // max count, ties -> lexicographically smallest pair (deterministic)
      val best = counts.foldLeft(Option.empty[((String, String), Long)]) {
        case (acc, kv) =>
          acc match {
            case Some((bp, bc)) =>
              if (kv._2 > bc ||
                (kv._2 == bc && (kv._1._1 < bp._1 ||
                  (kv._1._1 == bp._1 && kv._1._2 < bp._2)))) Some(kv)
              else acc
            case None => Some(kv)
          }
      }
      best match {
        case Some(((x, y), c)) if c >= 2 =>
          merges += ((x, y))
          table.foreach { case (syms, _) =>
            var i = 0
            while (i < syms.length - 1) {
              if (syms(i) == x && syms(i + 1) == y) {
                syms(i) = x + y
                syms.remove(i + 1)
              } else i += 1
            }
          }
          m += 1
        case _ => exhausted = true
      }
    }
    merges.result()
  }

  /** Column API: segment a token column (array of subword strings). */
  def bpe_encode(tok: Column, merges: Seq[(String, String)],
                 endMarker: Boolean = false): Column = {
    import org.apache.spark.sql.graftbridge.ColumnBridge.{column, expression}
    column(graft.functions.BpeEncodeExpr(
      expression(tok), merges.map(_._1).toArray, merges.map(_._2).toArray, endMarker))
  }

  /** The query's fixed merge table: five pairs with PAIRWISE-DISJOINT
    * alphabets ({t,h} {a,n} {e,r} {o,w} {l,i}), none self-overlapping. For
    * such a table greedy min-rank BPE provably degenerates to independent
    * non-overlapping substring replacement, so the subword count is pure
    * arithmetic the DuckDB oracle can state:
    *   n_subwords(w) = len(w) − Σ_m (len(w) − len(replace(w, xy, ''))) / 2.
    * (Interacting/chained merge behavior — where greedy order matters — is
    * exercised by BpeSpec's hand-verified cases and the trained-merges
    * tests, not by the oracle row.)
    */
  val DisjointMerges: Seq[(String, String)] =
    Seq(("t", "h"), ("a", "n"), ("e", "r"), ("o", "w"), ("l", "i"))

  /** Per-language segmentation stats under [[DisjointMerges]]:
    * (lang, n_docs, n_tokens, n_chars, n_subwords). The explode takes the
    * tokens expression, not a column holding it: Spark infers a
    * `size(toks) > 0` filter for a generator over a column and pushes it
    * below the projection, which would tokenize every row twice.
    */
  def bpeSegmentStats(docs: DataFrame, langCol: String, textCol: String): DataFrame = {
    val toks = docs
      .select(col(langCol).as("lang"), col("doc_id"),
        explode(TextAnalysis.tokens(col(textCol))).as("tok"))
    toks
      .select(col("lang"), col("doc_id"), col("tok"),
        size(bpe_encode(col("tok"), DisjointMerges)).as("n_sub"))
      .groupBy(col("lang"))
      .agg(
        countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_tokens"),
        sum(length(col("tok"))).as("n_chars"),
        sum(col("n_sub")).as("n_subwords"))
      .orderBy(col("lang"))
  }

  /** DuckDB mirror of [[bpeSegmentStats]] via the disjoint-merge
    * arithmetic identity.
    */
  val bpeSegmentStatsSql: String = {
    val occ = DisjointMerges
      .map { case (x, y) => s"(length(tok) - length(replace(tok, '$x$y', ''))) / 2" }
      .mkString(" + ")
    s"""WITH toks AS (
       |  SELECT lang, doc_id, unnest(string_split_regex(trim(text), '\\s+')) AS tok
       |  FROM documents
       |)
       |SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  COUNT(*) AS n_tokens,
       |  CAST(SUM(length(tok)) AS BIGINT) AS n_chars,
       |  CAST(SUM(length(tok) - ($occ)) AS BIGINT) AS n_subwords
       |FROM toks GROUP BY lang ORDER BY lang""".stripMargin
  }
}
