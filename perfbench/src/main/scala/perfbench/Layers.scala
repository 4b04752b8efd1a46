package perfbench

/** The per-layer metrics of a traced run. Work counts are per client
  * operation of the traced loop, so they do not depend on how many
  * operations fit in the run.
  */
object Layers {
  val ClustersOp = "duplicate_clusters"
  val CandidatesOp = "lsh_candidates"
  /** Ops measured by name; any workload reports all of them (0 when it
    * does not run the op).
    */
  val Ops: Seq[String] = Seq("near_dup_pairs", ClustersOp, "keep_canonical",
    "ngram_jaccard_pairs", "dup_span_coverage")
  /** Ops a traced loop runs besides the measured ones: their jobs are
    * left out of the `exec.*` totals, which cover what the untraced loop
    * runs.
    */
  val SideOps: Set[String] = Set(ClustersOp, CandidatesOp)

  def metrics(rec: Recorder, untraced: Recorder, listener: ExecListener,
              replay: Map[String, Double], cores: Int): Seq[(String, Double, String)] = {
    val ops = math.max(1, rec.latencyMs.length).toDouble
    val q = math.max(1L, rec.queries).toDouble
    val ex = listener.all(excluding = SideOps)
    val byOp = listener.byOp
    def c(k: String) = rec.counters(k).toDouble
    val out = Seq.newBuilder[(String, Double, String)]
    def add(n: String, v: Double, u: String): Unit = out += ((n, v, u))

    for ((n, u) <- Seq(
        "read_mbps" -> "MB/s", "xxhash_mbps" -> "MB/s", "lz4_decompress_mbps" -> "MB/s",
        "zstd_decompress_mbps" -> "MB/s", "lz4_compress_mbps" -> "MB/s", "zstd_compress_mbps" -> "MB/s",
        "writer_mbps" -> "MB/s", "footer_read_us" -> "us", "blocks" -> "count",
        "dict_stream_share" -> "ratio", "metadata_bytes_share" -> "ratio"))
      add(s"format.$n", replay(s"format.$n"), u)

    add("sources.decode_fill_mbps", replay("sources.decode_fill_mbps"), "MB/s")
    for (k <- Seq("blocks_read", "blocks_skipped", "pred_elided_blocks", "pred_eval_batches",
        "footer_reads", "stats_agg_blocks", "manifest_files_pruned"))
      add(s"sources.$k", c(k) / q, "count/query")
    add("sources.rows_useful_ratio",
      if (rec.scanRows == 0) 0.0 else rec.resultRows.toDouble / rec.scanRows, "ratio")

    add("plans.plan_ms", if (rec.planMs.isEmpty) 0.0 else Stats.median(rec.planMs.toSeq), "ms")
    add("plans.footer_answered_share", rec.footerAnswered / q, "ratio")
    add("plans.files_scanned", rec.filesScanned / q, "count/query")

    add("exec.tasks", ex.tasks / ops, "count/op")
    add("exec.task_attempts", ex.attempts / ops, "count/op")
    add("exec.cpu_util", ex.cpuNs / 1e9 / (rec.wallS * cores), "ratio")
    add("exec.task_skew", ex.worstSkew, "ratio")
    add("exec.scheduler_wait_ms", ex.schedMs / ops, "ms/op")
    add("exec.shuffle_records", ex.shuffleRecords / ops, "count/op")
    add("exec.shuffle_bytes", ex.shuffleBytes / ops, "B/op")
    add("exec.gc_s", ex.gcMs / 1e3 / ops, "s/op")
    add("exec.spill_bytes", ex.spillBytes / ops, "B/op")

    for (op <- Ops) {
      val calls = rec.opCalls(op)
      def per(v: Double) = if (calls == 0) 0.0 else v / calls
      add(s"ops.${op}_s", per(rec.opSeconds(op)), "s/call")
      add(s"ops.${op}_shuffle_records",
        per(byOp.get(op).map(_.shuffleRecords.toDouble).getOrElse(0.0)), "count/call")
      add(s"ops.${op}_rows_out", per(rec.opRowsOut(op).toDouble), "count/call")
    }
    add("ops.minhash_candidate_precision", rec.extra.getOrElse("ops.minhash_candidate_precision", 0.0), "ratio")

    val base = Stats.median(untraced.latencyMs.toSeq)
    add("trace.overhead_share",
      if (base > 0) Stats.median(rec.latencyMs.toSeq) / base - 1 else 0.0, "ratio")
    out.result()
  }
}
