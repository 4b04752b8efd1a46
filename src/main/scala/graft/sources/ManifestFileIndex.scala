package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.expressions.{
  And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull,
  IsNull, LessThan, LessThanOrEqual, Literal, Or, StartsWith
}
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusWithMetadata, PartitionDirectory}
import org.apache.spark.sql.{sources => f}
import org.apache.spark.sql.types.StructType

import graft.format.McManifest

/** [[FileIndex]] decorator that drops fully-refuted FILES before task
  * launch using the directory's `_graft_manifest`
  * ([[graft.format.McManifest]]) — driver-side file pruning on NON-partition
  * keys, the level above executor-side block pruning.
  *
  * `FileIndex.listFiles` receives the scan's data filters at physical
  * planning (the hook Spark provides for exactly this); each listed file is
  * matched against its manifest entry by `(relative path, length, modTime)`
  * and kept unless [[graft.format.McStatsPruning.keepBlocks]] — run over
  * the manifest's one-synthetic-block-per-file stats — refutes every line
  * it could own. Unmatched files (new, rewritten, stale manifest), missing
  * or corrupt manifests, and untranslatable filters all degrade to the
  * undecorated listing. Sound for the same reason block pruning is: Spark
  * re-evaluates every data filter above the scan, so a dropped file must
  * have zero passing rows, and kept files change nothing.
  *
  * The manifest is loaded once per `(path, length, modTime)` of the
  * manifest file itself (process-wide cache), so steady-state planning
  * costs one `getFileStatus` per root per query.
  */
class ManifestFileIndex(
    delegate: FileIndex,
    dataSchema: StructType,
    session: SparkSession,
    extraFilters: Seq[f.Filter] = Nil
) extends FileIndex {

  override def rootPaths: Seq[Path] = delegate.rootPaths
  override def inputFiles: Array[String] = delegate.inputFiles
  override def refresh(): Unit = delegate.refresh()
  override def sizeInBytes: Long = delegate.sizeInBytes
  override def partitionSchema: StructType = delegate.partitionSchema
  override def metadataOpsTimeNs: Option[Long] = delegate.metadataOpsTimeNs

  /** The wrapped index (used by rules that must not double-wrap). */
  def underlying: FileIndex = delegate

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val base = delegate.listFiles(partitionFilters, dataFilters)
    if (dataFilters.isEmpty && extraFilters.isEmpty) return base
    // dataFilters arrive pre-split into conjuncts: untranslatable ones
    // simply don't participate (pruning on a conjunct subset stays sound).
    // extraFilters are STATIC conjuncts fixed at construction — the
    // aggregate-pushdown rewrite carries here the same translated filters
    // it hands its stats relation, which decides them inside the format,
    // so that scan has no plan-level filters to hand us.
    val filters = dataFilters.flatMap(ManifestFileIndex.translate) ++ extraFilters
    if (filters.isEmpty) return base
    val rootsWithManifests: Seq[(java.net.URI, graft.format.McManifest.Manifest)] =
      rootPaths.flatMap(r => ManifestFileIndex.load(r, session).map(r.toUri -> _))
    if (rootsWithManifests.isEmpty) return base

    // pre-compute keep() per tag-group of every manifest (file ordinal →
    // keep flag); group stats reuse the block-pruning logic verbatim.
    // Keys include the ROOT: with multiple root paths, a file in root A
    // must never match root B's entry of the same (rel, len, mtime) — two
    // different-content files could share that triple (r16 advice).
    val verdicts: Map[(java.net.URI, (String, Long, Long)), Boolean] =
      rootsWithManifests.flatMap { case (rootUri, m) =>
        m.groups.flatMap { case (entries, stats, blooms) =>
          // v3 file-level blooms ride the SAME keepBlocks composition that
          // prunes blocks inside a file: equality / IN conjuncts probe each
          // file's filter after the zone test, so a point lookup on an
          // unsorted high-cardinality key refutes whole files driver-side
          graft.format.McStatsPruning.keepBlocks(filters, dataSchema, stats, blooms) match {
            case Some(keep) =>
              entries.zipWithIndex.map { case (e, i) =>
                ((rootUri, (e.path, e.fileLen, e.modTime)), keep(i))
              }
            case None => Nil
          }
        }
      }.toMap
    if (verdicts.isEmpty) return base

    val rootUris = rootPaths.map(_.toUri)
    var pruned = 0L
    val out = base.map { pd =>
      val kept = pd.files.filter { f =>
        val keep = ManifestFileIndex.entryKey(rootUris, f).flatMap(verdicts.get).getOrElse(true)
        if (!keep) pruned += 1
        keep
      }
      if (kept.length == pd.files.length) pd else pd.copy(files = kept)
    }
    if (pruned > 0) FourMcScanMetrics.manifestFilesPruned.add(pruned)
    out
  }
}

object ManifestFileIndex {

  /** Catalyst conjunct → data source [[f.Filter]], covering exactly the
    * shapes [[graft.format.McStatsPruning.keepBlocks]] understands
    * (comparisons/null tests/IN/prefix over a bare column and literals,
    * conjunction/disjunction). Literals convert to their EXTERNAL types
    * (String/Timestamp/Date/BigDecimal/…), the domain keepBlocks' literal
    * coercion expects. None = this conjunct can't prune (sound to drop).
    */
  private[graft] def translate(e: Expression): Option[f.Filter] = {
    def lit(v: Any, dt: org.apache.spark.sql.types.DataType): Any =
      CatalystTypeConverters.convertToScala(v, dt)
    e match {
      case And(l, r) =>
        for (a <- translate(l); b <- translate(r)) yield f.And(a, b)
      case Or(l, r) =>
        for (a <- translate(l); b <- translate(r)) yield f.Or(a, b)
      case IsNull(a: AttributeReference)    => Some(f.IsNull(a.name))
      case IsNotNull(a: AttributeReference) => Some(f.IsNotNull(a.name))
      case EqualTo(a: AttributeReference, Literal(v, t)) if v != null =>
        Some(f.EqualTo(a.name, lit(v, t)))
      case EqualTo(Literal(v, t), a: AttributeReference) if v != null =>
        Some(f.EqualTo(a.name, lit(v, t)))
      case GreaterThan(a: AttributeReference, Literal(v, t)) if v != null =>
        Some(f.GreaterThan(a.name, lit(v, t)))
      case GreaterThan(Literal(v, t), a: AttributeReference) if v != null =>
        Some(f.LessThan(a.name, lit(v, t)))
      case GreaterThanOrEqual(a: AttributeReference, Literal(v, t)) if v != null =>
        Some(f.GreaterThanOrEqual(a.name, lit(v, t)))
      case GreaterThanOrEqual(Literal(v, t), a: AttributeReference) if v != null =>
        Some(f.LessThanOrEqual(a.name, lit(v, t)))
      case LessThan(a: AttributeReference, Literal(v, t)) if v != null =>
        Some(f.LessThan(a.name, lit(v, t)))
      case LessThan(Literal(v, t), a: AttributeReference) if v != null =>
        Some(f.GreaterThan(a.name, lit(v, t)))
      case LessThanOrEqual(a: AttributeReference, Literal(v, t)) if v != null =>
        Some(f.LessThanOrEqual(a.name, lit(v, t)))
      case LessThanOrEqual(Literal(v, t), a: AttributeReference) if v != null =>
        Some(f.GreaterThanOrEqual(a.name, lit(v, t)))
      case In(a: AttributeReference, vs) if vs.nonEmpty && vs.forall {
            case Literal(v, _) => v != null
            case _             => false
          } =>
        Some(f.In(a.name, vs.map { case Literal(v, t) => lit(v, t) }.toArray))
      case StartsWith(a: AttributeReference, Literal(v, _)) if v != null =>
        Some(f.StringStartsWith(a.name, v.toString))
      case _ => None
    }
  }

  /** The manifest identity of one listed file: the first of `roots` it
    * lives under, and its (root-relative path, length, modification time),
    * the key of that root's manifest entries (`McManifest.Manifest.byKey`).
    * Keying by root means a file in root A never matches root B's entry of
    * the same triple. None for a file under no root.
    */
  private[graft] def entryKey(
      roots: Seq[java.net.URI],
      f: FileStatusWithMetadata): Option[(java.net.URI, (String, Long, Long))] = {
    val uri = f.getPath.toUri
    roots.iterator.map(root => root -> root.relativize(uri)).collectFirst {
      case (root, rel) if !rel.isAbsolute && rel.getPath.nonEmpty =>
        (root, (rel.getPath, f.getLen, f.getModificationTime))
    }
  }

  /** Process-wide manifest cache keyed by the manifest file's own identity. */
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), McManifest.Manifest]

  /** Load `root/_graft_manifest` if present and parseable; None otherwise.
    * One `getFileStatus` per call; parse cached on (path, len, modTime).
    */
  private[graft] def load(root: Path, session: SparkSession): Option[McManifest.Manifest] =
    try {
      val conf = session.sessionState.newHadoopConf()
      val fs = root.getFileSystem(conf) match {
        case cfs: org.apache.hadoop.fs.ChecksumFileSystem => cfs.getRawFileSystem
        case other                                        => other
      }
      val mPath = new Path(root, McManifest.FileName)
      val st =
        try fs.getFileStatus(mPath)
        catch { case _: java.io.FileNotFoundException => return None }
      val key = (mPath.toString, st.getLen, st.getModificationTime)
      val cached = cache.get(key)
      if (cached != null) return Some(cached)
      if (cache.size > 1024) cache.clear()
      val buf = new Array[Byte](st.getLen.toInt)
      val in = fs.open(mPath)
      try in.readFully(0, buf) finally in.close()
      McManifest.parse(buf).map { m => cache.put(key, m); m }
    } catch { case scala.util.control.NonFatal(_) => None }
}
