package graft.io

import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.SparkThrowable
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.{array, broadcast, coalesce, col, collect_set, concat, concat_ws, count, explode, lit, raise_error, struct, sum, when}
import org.apache.spark.sql.types.{ByteType, DataType, DateType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType, StructField, StructType, TimestampNTZType, TimestampType}

/** Partitioned-lake layout helpers: Hive-style partition directories give
  * partition *pruning* — a predicate on a partition column never touches
  * the other directories' files at all. At 100 TB this is the first-order
  * scan optimization (before pushdown, before codegen): the bytes are never
  * read. Partitioning may be multi-level (`Seq("day", "src")` — the
  * canonical (date, source) lake layout): directories nest, a predicate
  * on any prefix of the columns prunes, and row identity for the
  * incremental sinks is the full `(partition tuple, key)`.
  *
  * == Atomic snapshot commits ==
  *
  * Every write goes through a minimal Iceberg-style commit protocol instead
  * of in-place dynamic partition overwrite (which exposes concurrent
  * readers to half-rewritten partitions):
  *
  *  1. new data files are written to a transient `_staging/<uuid>/`
  *     directory (so Spark itself produces the escaped `col=value`
  *     partition directory names);
  *  2. the staged files are MOVED (metadata rename, never a data copy on
  *     HDFS/local) into the lake's `col=value/` directories under
  *     commit-unique names — existing files are never modified;
  *  3. a new manifest version listing exactly the files that constitute
  *     the snapshot is published under `_manifest/` via write-to-temp +
  *     atomic rename. The rename IS the commit point: a reader resolves
  *     the latest manifest once, and the files it lists are immutable, so
  *     it sees the whole old snapshot or the whole new one — never a mix.
  *
  * Readers pay one tiny manifest read; scans remain partition-pruned
  * (the manifest read hands Spark an explicit file list + `basePath`, so
  * the file index still knows each file's partition value). Superseded
  * AND de-referenced files stay on disk for in-flight readers, time
  * travel, and [[changesBetween]] pre-images until [[vacuum]] reclaims
  * them — commits never delete anything.
  *
  * Concurrency: MULTI-WRITER with optimistic rebase. The manifest
  * rename is the commit point (the rename refuses an existing target,
  * so exactly one committer wins each version); a loser whose touched
  * partitions are DISJOINT from everything changed since the manifest
  * it read rebases onto the new head and re-publishes — an ingester
  * and the compactor can race safely. Overlapping committers conflict
  * loudly, with this commit's files unlinked first ([[commitStaged]]).
  * [[vacuum]] defaults to the exclusive maintenance-window contract
  * (graceMs = 0 reclaims everything superseded immediately); pass a
  * grace window above the longest commit's stage-to-publish latency and
  * it can interleave with live committers — young unreferenced files,
  * directories, leaves, and stagings survive the sweep (spec-pinned by
  * an interleaved committer/vacuum race in LakeConcurrencySpec), and a
  * `keepLast` retention window keeps pinned readers, time travel, and
  * stopped change-feed checkpoints restartable across maintenance.
  * On object stores without atomic no-replace rename (raw S3) the
  * deployment plugs its compare-and-swap write into the
  * [[CommitArbiter]] seam (`graft.lake.commit.arbiter` — S3
  * conditional PUT `If-None-Match: *`, GCS generation-match) and runs
  * the full multi-writer protocol; the reference's `s3.py:45-92`
  * sidestepped the problem by always writing whole objects
  * (object-store PUTs are atomic), and a partitioned layout has to
  * earn that property back, which is what the manifest + arbiter do.
  *
  * Partition directory names are Spark's own, end to end: the staged
  * write's directory names ARE the touched set for an upsert, and a
  * commit that must account for partitions it EMPTIES (a CDC fold)
  * derives their names from Spark's own writer-path rendering functions
  * ([[sparkDirsFor]]: `Cast` + `getPartitionPathString`) — the
  * commit path never re-implements Spark's value rendering or escaping,
  * so manifest bookkeeping cannot diverge from the physical layout.
  *
  * Manifest scale: below `graft.lake.manifest.shard.threshold`
  * partition directories (default 8192) a snapshot is ONE text file
  * with a line per live data file (~100 bytes each; with [[compact]]
  * run routinely, a line per PARTITION). Above it — or under an
  * explicit `graft.lake.manifest.shards` — versions are written in
  * FORMAT v2: Iceberg-manifest-list style, dir/file lines split by
  * `hash(dir) % shards` into content-addressed `leaf-<md5>.txt` files
  * shared across versions, so an incremental commit writes ~one leaf +
  * the top file regardless of partition count (measured 25-93× fewer
  * bytes at 50k-200k dirs — SCALE.md), leaves resolve in parallel and
  * self-verify by hash, and [[vacuum]] retires the unreferenced ones.
  *
  * Registered formats, so non-Scala callers get the whole surface:
  * `spark.read.format("graft-lake")` (batch read, `versionAsOf` time
  * travel, SQL `CREATE TABLE ... USING`), `df.write.format
  * ("graft-lake")` (Overwrite = snapshot write, Append = keyed upsert),
  * `writeStream.format("graft-lake")` (exactly-once sink via the
  * per-writer txn replay guard), and `readStream.format
  * ("graft-lake-cdf")` (the change feed, `maxVersionsPerTrigger`
  * rate-limited).
  */
object PartitionedLake {

  /** A CREATE-style bootstrap found something already living at the
    * path — a pre-existing lake, foreign files, or a racing CREATE that
    * published version 1 first. A dedicated TYPE so SQL
    * `CREATE TABLE IF NOT EXISTS` can swallow exactly this and nothing
    * else (an earlier form classified by message substring, which would
    * mislabel any publish failure whose message happened to contain
    * "already exists" — a real failure then read as quiet success).
    */
  final class LakeAlreadyExistsException(msg: String)
      extends RuntimeException(msg)

  private val ManifestDirName = "_manifest"
  private val StagingDirName = "_staging"

  /** The merge-on-read duplicate-identity refusal. The staging job raises
    * it in-plan with `raise_error`, which throws a `SparkThrowable` of
    * condition `USER_RAISED_EXCEPTION` whose one parameter, `errorMessage`,
    * begins with [[MorDupIdentityTag]]. [[morDupRefusal]] finds it in the
    * job failure's cause chain by that condition and tag, not by any
    * exception's message, so a layer that re-wraps or rewords the failure
    * does not hide it.
    */
  private val MorDupIdentityRefusal =
    "merge-on-read contract is one row per identity"
  private val MorDupIdentityTag = "[GRAFT_MOR_DUP_IDENTITY] "

  /** The directed duplicate-identity refusal raised inside `t`'s job, if
    * its cause chain holds one: the refusal's message, without the tag. */
  private[graft] def morDupRefusal(t: Throwable): Option[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).collectFirst {
      case s: SparkThrowable
          if s.getCondition == "USER_RAISED_EXCEPTION" &&
            Option(s.getMessageParameters.get("errorMessage"))
              .exists(_.startsWith(MorDupIdentityTag)) =>
        s.getMessageParameters.get("errorMessage").stripPrefix(MorDupIdentityTag)
    }

  // %09d pads for sortable names but is MINIMUM width: version 10^9
  // writes 10 digits, so the matcher accepts \d{9,} — a fixed {9} would
  // silently stop resolving past that version (split-brain to an older
  // snapshot), the worst possible failure mode for a commit protocol
  private val ManifestFile = """^v(\d{9,})\.txt$""".r
  private val TxnLine = """^txn (\d+)$""".r

  /** One live data file: its name within the partition directory plus
    * optional per-column (min, max) bounds and the exact row count,
    * both harvested from its parquet FOOTER at commit time (free — no
    * data read). Bounds are stored as conservatively-widened doubles; a
    * column absent from the map means "unknown", which [[readRange]]
    * treats as cannot-skip. `rows` powers [[rowCount]]'s metadata-only
    * COUNT(*); None (pre-rows manifests, adopted legacy files) degrades
    * to scanning, never to a wrong answer. `bytes` is the file's exact
    * on-disk length (free from the commit's directory listing): it
    * powers the size STATISTICS both registered read surfaces report to
    * the optimizer, which is what lets a small dimension lake win a
    * broadcast join instead of defaulting to "unknown = huge". Absent
    * on pre-bytes manifests — statistics then stay at the conservative
    * default, never an underestimate.
    */
  /** One live data file. `stats` are ULP-widened footer BOUNDS keyed by
    * the column's PHYSICAL (write-time) name; `physNames` pins, per
    * stable column id, the physical column name this file was written
    * under when it differs from the snapshot's CURRENT name — the
    * per-file half of column renames ([[renameColumn]]): a rename is a
    * manifest-only commit that rebinds the schema name and stamps
    * `pn:<id>:<old-name>` onto every live entry, so readers resolve
    * old files exactly (no heuristics) and the annotation dies with
    * the file at the next rewrite (compact/overwrite/upsert restore
    * the physical name automatically).
    */
  private[io] case class FileEntry(name: String,
      stats: Map[String, (Double, Double)] = Map.empty,
      rows: Option[Long] = None,
      bytes: Option[Long] = None,
      physNames: Map[Int, String] = Map.empty,
      strStats: Map[String, (String, String)] = Map.empty)

  /** version + snapshot schema + live files per partition directory +
    * PER-WRITER highest streaming batch ids folded in (Delta's
    * app-keyed `txn` idea): a redelivered micro-batch with
    * `batchId <= txns(writerId)` is skipped whole, so sinks are
    * exactly-once at the TRANSACTION level, not just idempotent at the
    * value level — and the slots are keyed by writer so one streaming
    * query's watermark can never swallow another's batches under
    * multi-writer concurrency.
    *
    * `deltas` lists the live merge-on-read delta sidecars per partition
    * directory (see [[cdcSinkMergeOnRead]]): row-level corrections
    * (`__graft_op` = 'U' post-image / 'D' tombstone) merged at read and
    * materialized away by [[compact]]. `mor` names the key column the
    * delta identities use; present iff any delta is live.
    *
    * `leaves` names the SHARDED (format v2) leaf files this version
    * references under `_manifest/` — empty for a single-file v1
    * manifest. Only [[vacuum]] consumes it (retained versions' leaves
    * must survive reclamation); the parsed `files`/`deltas` above are
    * always the full picture regardless of format.
    *
    * `layout` is the DECLARED partition-column list, persisted as a
    * `meta:partition-cols=` header line (the reserved `meta:`
    * namespace — reader acceptance shipped one release before this
    * writer, per the two-phase rule). Directory names remain the
    * authoritative derivation when any exist ([[partitionColsOf]]);
    * the declared layout is what lets an EMPTY snapshot — a
    * CREATE TABLE bootstrap, or a lake whose every row was deleted —
    * keep an insertable, partition-aware identity. Ignoring it cannot
    * corrupt a read (pre-round-14 readers fall back to dir-derivation
    * or the empty-layout behavior they always had), which is what
    * keeps it minor-version-free per the header note's rule.
    *
    * `columnIds` is the name -> STABLE-ID mapping that makes column
    * renames possible, persisted as a `meta:column-ids=` header line.
    * This release ships the READER half of the two-phase evolution
    * (parse, preserve through round-trips, expose) — no writer assigns
    * ids yet, and column matching stays by-name everywhere. Once every
    * reader in a fleet accepts the line, a later release's writer can
    * assign ids at bootstrap and rename by REBINDING a name to an
    * existing id (parquet field-id resolution then reads old files
    * under the new name) — the forward path
    * [[refuseSuspectedRename]]'s error message points at. A mapping
    * must cover every schema field or it is rejected at parse (a
    * partial mapping could mis-resolve precisely the columns it
    * omits).
    */
  /** `checks` is the table's ENFORCED CHECK constraints, `(name,
    * predicate SQL)` in declaration order, persisted one
    * `meta:check=` header line each (the reserved additive namespace —
    * pre-constraints readers skip the lines; ignoring a constraint
    * only loses write-side enforcement on that old reader, never read
    * correctness). Every write path evaluates them per-row before
    * staging ([[applyChecks]]); the SQL surface additionally gets
    * Spark's own `CheckInvariant` enforcement through
    * [[GraftLakeTable]] reporting `constraints()`.
    */
  private[io] case class Manifest(version: Long, schema: StructType,
      files: Map[String, Seq[FileEntry]],
      txns: Map[String, Long] = Map.empty,
      deltas: Map[String, Seq[String]] = Map.empty,
      mor: Option[String] = None,
      leaves: Seq[String] = Nil,
      layout: Option[Seq[String]] = None,
      columnIds: Option[Map[String, Int]] = None,
      checks: Seq[(String, String)] = Nil)

  /** The writer id [[upsert]]/[[cdcSink]]/[[cdcSinkMergeOnRead]] charge
    * their replay guard to when the caller does not name one.
    */
  val DefaultWriter = "default"

  /** The op column carried inside delta sidecar files ('U' or 'D'). */
  private[io] val MorOpCol = "__graft_op"

  /** MOR log governance: the per-partition accumulated delta log must
    * stay broadcast-sized (both the fold and every merged read
    * broadcast the log identities). These knobs turn that contract
    * from a comment into a MECHANISM, enforced at every commit that
    * publishes a log (both writers publish through [[publishMorLog]]):
    * a partition whose post-commit log would exceed `maxRows` either
    * auto-compacts right after the commit (`onExceed=compact`, the
    * default — the lake keeps absorbing batches at bounded read cost)
    * or refuses the commit loudly with directions (`onExceed=refuse` —
    * for deployments that schedule compaction themselves and want the
    * breach surfaced, not absorbed). `maxRows <= 0` disables the
    * governor. The check costs nothing: the staged log's per-file row
    * counts are already harvested from parquet footers at stage time,
    * and the publish stages each touched partition's WHOLE log, so the
    * staged counts ARE the post-commit accumulation.
    */
  val MorLogMaxRowsKey = "spark.graft.lake.morLog.maxRows"
  val MorLogOnExceedKey = "spark.graft.lake.morLog.onExceed"
  private[io] val MorLogMaxRowsDefault = 10000000L

  /** Apply the governor to a staged log. Returns the partitions to
    * auto-compact AFTER the commit publishes (empty when under bound
    * or disabled); in refuse mode, deletes the staging and raises.
    */
  private def morLogGovern(fs: FileSystem, path: String, logStaging: Path,
      stagedLog: Map[String, Seq[FileEntry]]): Set[String] = {
    val sc = org.apache.spark.sql.internal.SQLConf.get
    val max = sc.getConfString(MorLogMaxRowsKey,
      MorLogMaxRowsDefault.toString).toLong
    if (max <= 0L) return Set.empty
    val offending = stagedLog.collect { case (d, es)
      if es.map(_.rows.getOrElse(0L)).sum > max => d }.toSet
    if (offending.isEmpty) return Set.empty
    sc.getConfString(MorLogOnExceedKey, "compact") match {
      case "compact" => offending
      case "refuse" =>
        fs.delete(logStaging, true)
        sys.error(s"merge-on-read delta log for partition(s) " +
          s"${offending.toSeq.sorted.mkString(", ")} would exceed " +
          s"$MorLogMaxRowsKey=$max rows after this commit — the fold " +
          "and every merged read broadcast the accumulated log " +
          "identities, so an ungoverned log eventually hits the " +
          "broadcast ceiling. Run PartitionedLake.compact (SQL: CALL " +
          "system.compact) to materialize the log away, raise the " +
          s"threshold, or set $MorLogOnExceedKey=compact to " +
          "auto-compact offending partitions")
      case other =>
        fs.delete(logStaging, true)
        sys.error(s"$MorLogOnExceedKey must be 'compact' or " +
          s"'refuse', got '$other'")
    }
  }

  /** A partition directory's change signature: the live file + delta
    * names. Two manifests agree on a directory iff the signatures match
    * — the unit of change for [[changesBetween]] and for the
    * optimistic-concurrency conflict check.
    */
  private def dirSig(m: Manifest, d: String): (Set[String], Set[String]) =
    (m.files.getOrElse(d, Nil).map(_.name).toSet,
      m.deltas.getOrElse(d, Nil).toSet)

  private[io] def allDirs(m: Manifest): Set[String] =
    m.files.keySet ++ m.deltas.keySet

  /** Directories whose contents differ between two snapshots. */
  private def changedDirs(a: Option[Manifest], b: Manifest): Set[String] = {
    val ad = a.map(allDirs).getOrElse(Set.empty)
    val empty = (Set.empty[String], Set.empty[String])
    (ad ++ allDirs(b)).filter { d =>
      a.map(dirSig(_, d)).getOrElse(empty) != dirSig(b, d)
    }
  }

  private def fsFor(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def requireSupportedPartitionType(df: DataFrame,
      partitionCols: Seq[String]): Unit = partitionCols.foreach { c =>
    val dt = df.schema(c).dataType
    require(dt != TimestampType && dt != TimestampNTZType,
      s"timestamp-typed partition column '$c' is not supported: " +
        "its directory form is timezone/format dependent; partition on a " +
        "string or date derivation instead")
  }

  // ---- manifest read/write -------------------------------------------------

  /** WRITE-AUDIT-PUBLISH branches (Iceberg's `spark.wap.branch` shape):
    * while this session conf names a branch, EVERY lake operation —
    * reads, writes, SQL DML, compaction, the change feed — resolves
    * and publishes manifests under `_branches/<name>/_manifest/`
    * instead of the main line. Data files still land in the SHARED
    * partition directories (unreferenced by main manifests, hence
    * invisible to main readers — the snapshot protocol's core
    * property), so [[publishBranch]] is ONE manifest rename, never a
    * data copy. Main-line maintenance ([[vacuum]], [[tag]],
    * [[rollback]], tag resolution) refuses under an ambient branch —
    * their version vocabularies must not silently mix. The conf is
    * read PER OPERATION (streams: per micro-batch) — set it for the
    * session or scope it around a block; do not flip it mid-stream.
    */
  val BranchKey = "spark.graft.lake.branch"

  private val BranchesDirName = "_branches"

  /** Branch AGING governance — the MOR-governor pattern applied to the
    * ref-immortality edge: a LIVE branch pins its whole version chain
    * (and every data file it references) against [[vacuum]] forever,
    * and "drop branches when you're done" is a contract with no
    * mechanism. With `maxAgeMs` > 0, every branch-namespace WRITE
    * checks the branch's age (measured from the bootstrap manifest's
    * store mtime — no extra metadata, pre-governor branches age
    * correctly) and either WARNS (default — work continues, cost
    * surfaced in the log and in `#branches`) or REFUSES with
    * directions. Reads never refuse: an aged branch stays auditable;
    * it is the continued STAGING onto it that the governor challenges.
    * `maxAgeMs <= 0` (default) disables the governor.
    */
  val BranchMaxAgeKey = "spark.graft.lake.branch.maxAgeMs"
  val BranchOnExceedKey = "spark.graft.lake.branch.onExceed"

  private lazy val logger =
    org.slf4j.LoggerFactory.getLogger("graft.io.PartitionedLake")

  /** A branch's creation time: the bootstrap manifest copy's store
    * mtime (the namespace minimum version's file). None for a branch
    * namespace with no versions (mid-create, or racing a drop).
    */
  private[io] def branchCreatedAt(fs: FileSystem, path: String,
      branch: String): Option[Long] =
    listVersionsWithMtimes(fs, path, Some(branch))
      .minByOption(_._1).map(_._2)

  /** `refuseOnly` runs the check for its REFUSAL only (no warn log):
    * the staging writers pass it at [[stage]] — before any file moves,
    * so a refusal leaves nothing to unlink — and the full check at the
    * [[tryPublishManifest]] chokepoint then warns at most once per
    * commit (and backstops the metadata-only commits, which stage
    * nothing).
    */
  private def governBranchAge(fs: FileSystem, path: String,
      branch: String, refuseOnly: Boolean = false): Unit = {
    val sc = org.apache.spark.sql.internal.SQLConf.get
    val max = sc.getConfString(BranchMaxAgeKey, "0").toLong
    if (max <= 0L) return
    val mode = sc.getConfString(BranchOnExceedKey, "warn")
    if (mode != "warn" && mode != "refuse") sys.error(
      s"$BranchOnExceedKey must be 'warn' or 'refuse', got '$mode'")
    if (refuseOnly && mode != "refuse") return
    // no created-at = the bootstrap publish itself — nothing to age
    val created = branchCreatedAt(fs, path, branch).getOrElse(return)
    val age = System.currentTimeMillis() - created
    if (age <= max) return
    val msg = s"branch '$branch' on $path is ${age / 1000}s old " +
      s"(> $BranchMaxAgeKey=${max}ms): a live branch pins its whole " +
      "version chain against vacuum — publish or drop it " +
      "(`#branches` lists each branch's age and pinned bytes)"
    if (mode == "warn") { if (!refuseOnly) logger.warn(msg) }
    else sys.error(msg +
      s"; or set $BranchOnExceedKey=warn to keep staging")
  }

  private def activeBranch(): Option[String] =
    Option(org.apache.spark.sql.internal.SQLConf.get
      .getConfString(BranchKey, "")).map(_.trim).filter(_.nonEmpty)

  /** Reconcile a per-read `branch` pin (the DSv2 option / `#branch=`
    * SQL suffix) with the ambient conf: the explicit pin wins when the
    * conf is unset or agrees; a DIFFERENT ambient branch refuses —
    * silently preferring either would make the same query read
    * different data depending on session state, the exact foot-gun the
    * per-read pin exists to remove.
    */
  private[io] def resolveReadBranch(
      explicit: Option[String]): Option[String] = explicit match {
    case None => activeBranch()
    case Some(b) =>
      activeBranch().filter(_ != b).foreach(a => sys.error(
        s"per-read branch '$b' conflicts with the ambient " +
          s"$BranchKey='$a' — unset the conf or make them agree"))
      Some(b)
  }

  private def branchManifestDir(path: String, branch: Option[String]): Path =
    branch match {
      case Some(b) => new Path(
        new Path(new Path(path, BranchesDirName), b), ManifestDirName)
      case None => new Path(path, ManifestDirName)
    }

  private def manifestDir(path: String) =
    branchManifestDir(path, activeBranch())

  /** Main-line-only operations (vacuum, tag, rollback, the branch
    * lifecycle itself) refuse under an ambient branch: their version
    * vocabulary is the main line's, and silently mixing namespaces is
    * how an audit pins or reclaims the wrong snapshot.
    */
  private def requireMainLine(what: String): Unit =
    activeBranch().foreach(b => sys.error(
      s"$what operates on the MAIN line, but $BranchKey='$b' is set — " +
        "unset it first (branch staging is for writes and reads; " +
        "maintenance and refs are main-line)"))

  /** Every published version at this path, unsorted — the ONE listing
    * fold (the `v%%09d.txt` naming rule lives here and in the probe's
    * existence check only). `branch` defaults to the AMBIENT branch
    * conf (evaluated per call); the branch machinery passes it
    * explicitly to address both namespaces in one operation.
    */
  private def listVersions(fs: FileSystem, path: String,
      branch: Option[String] = activeBranch()): Seq[Long] =
    listVersionsWithMtimes(fs, path, branch).map(_._1)

  /** The same fold carrying publish mtimes (one listing = names AND
    * times) — [[versionAt]] and [[history]] consume both.
    */
  private def listVersionsWithMtimes(fs: FileSystem,
      path: String,
      branch: Option[String] = activeBranch()): Seq[(Long, Long)] = {
    val dir = branchManifestDir(path, branch)
    if (!fs.exists(dir)) Seq.empty
    else fs.listStatus(dir).toSeq.flatMap { st =>
      st.getPath.getName match {
        case ManifestFile(n) => Some(n.toLong -> st.getModificationTime)
        case _ => None
      }
    }
  }

  private[io] def latestManifest(fs: FileSystem, path: String,
      branch: Option[String] = activeBranch()): Option[Manifest] = {
    val vs = listVersions(fs, path, branch)
    // a branch that does not exist must refuse, not bootstrap: falling
    // through to adoption would re-adopt the main lake's partition
    // directories as a fresh legacy lake inside the branch namespace —
    // silent divergence instead of a staged branch
    if (vs.isEmpty && branch.isDefined) sys.error(
      s"branch '${branch.get}' does not exist on $path — create it " +
        s"with PartitionedLake.createBranch (SQL: CALL system.branch) " +
        s"or unset $BranchKey")
    // a published stub (crashed cleanup) must not serve its stale
    // staged state as if the branch were live
    branch.filter(b => fs.exists(publishedReceipt(path, b))).foreach(b =>
      sys.error(s"branch '$b' on $path was already published (its " +
        "namespace is a crashed-cleanup stub) — re-run publishBranch " +
        "to complete the cleanup, or createBranch to start fresh"))
    vs.maxOption.map(readManifest(fs, path, _, branch = branch))
  }

  /** One small metadata file as a UTF-8 string — the single definition
    * of "slurp a protocol file" (manifests, leaves, stream progress).
    */
  private[graft] def readSmallTextFile(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 65536, false)
      new String(out.toByteArray, "UTF-8")
    } finally in.close()
  }

  /** Which leaf shard a partition directory belongs to under an
    * `nShards`-way split. `String.hashCode` is pinned by the JLS, so
    * the assignment is stable across JVMs/releases — a leaf written by
    * one committer resolves identically for every later reader.
    */
  private def shardOf(dir: String, nShards: Int): Int =
    (dir.hashCode & 0x7fffffff) % nShards

  /** `leafCache` (optional) shares parsed leaf bodies across a multi-
    * version resolve — leaves are content-addressed and immutable, so
    * caching by name is always sound, and consecutive versions share
    * almost all leaves by construction ([[vacuum]]'s retained-window
    * reads would otherwise pay keepLast-fold redundant leaf I/O).
    */
  private def readManifest(fs: FileSystem, path: String, version: Long,
      leafCache: scala.collection.concurrent.Map[String, Seq[String]] = null,
      branch: Option[String] = activeBranch()):
      Manifest = {
    val nsDir = branchManifestDir(path, branch)
    val p = new Path(nsDir, f"v$version%09d.txt")
    val lines = readSmallTextFile(fs, p).split("\n").toSeq
    val header = lines.headOption.getOrElse("")
    // the major digit is the LAYOUT (1 = flat, 2 = sharded leaves); a
    // `.1` minor marks manifests carrying `bytes:` fields, which
    // pre-bytes parsers cannot field-split — they reject the header
    // loudly ("unrecognized manifest header") instead of crashing
    // inside stats parsing on a mixed-version fleet. Future ADDITIVE
    // fields ride the unknown-field tolerance below without a bump; a
    // field whose IGNORING would corrupt reads (e.g. delete vectors)
    // must bump the major — and per standard two-phase protocol
    // evolution, ship READER acceptance of the new header one release
    // before any WRITER emits it, so the immediately-previous release
    // never loses read access mid-upgrade. (The bytes bump could not
    // honor that retroactively: the only pre-bump releases are the
    // pre-bytes parsers this gate exists to protect.)
    require(header == "graft-lake-manifest v1" ||
      header == "graft-lake-manifest v2" ||
      header == "graft-lake-manifest v1.1" ||
      header == "graft-lake-manifest v2.1" ||
      // `.2` = physical-name pins present (column renames) — this
      // release resolves them; earlier by-name parsers reject here
      // instead of reading a renamed column as nulls off old files
      header == "graft-lake-manifest v1.2" ||
      header == "graft-lake-manifest v2.2",
      s"unrecognized manifest header in $p")
    val schema = DataType.fromJson(lines(1).stripPrefix("schema "))
      .asInstanceOf[StructType]
    // `txn:`/`mor:`/`delta:`/`shard:` header prefixes are unambiguous
    // against path lines: escapePathName escapes ':' itself, so no
    // dir/file line can start with a raw-colon prefix. The LEGACY
    // single-slot `txn <n>` line stays parseable (anchored `^txn \d+$`,
    // never prefix-matched: a partition COLUMN literally named
    // `txn ...` produces lines that always contain '=' and '/', which
    // the anchor rejects — escapePathName does NOT escape the space
    // character) and maps to the default writer slot.
    val topBody = lines.drop(2).filter(_.nonEmpty)
    // format v2 (sharded): the top file carries only the header lines
    // plus `shard:<leaf>` references; the dir/file/delta lines live in
    // content-addressed leaf files, read here (in parallel — at the
    // sharded design point the leaves ARE the manifest bytes) and
    // parsed through the same line grammar as v1
    val leafNames = topBody.filter(_.startsWith("shard:"))
      .map(_.stripPrefix("shard:"))
    def fetchLeaf(n: String): Seq[String] = {
      val text = readSmallTextFile(fs, new Path(nsDir, n))
      // leaves are content-addressed, hence SELF-VERIFYING:
      // a truncated/corrupted leaf (crashed committer on a
      // non-atomic scheme, bit rot) must fail the read loudly
      // — silently parsing half a shard would drop its files
      // from every derived snapshot
      val expect = n.stripPrefix("leaf-").stripSuffix(".txt")
      require(md5Hex(text) == expect,
        s"manifest leaf $n is corrupted (content hash " +
          s"${md5Hex(text)} != name); restore it from a " +
          "replica or roll back to an older snapshot")
      text.split("\n").toSeq.filter(_.nonEmpty)
    }
    val leafBody: Seq[String] = if (leafNames.isEmpty) Nil else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(8, leafNames.size)))
      try {
        import scala.jdk.CollectionConverters._
        val tasks: java.util.List[java.util.concurrent.Callable[Seq[String]]] =
          leafNames.map { n =>
            new java.util.concurrent.Callable[Seq[String]] {
              override def call(): Seq[String] =
                if (leafCache == null) fetchLeaf(n)
                else leafCache.getOrElseUpdate(n, fetchLeaf(n))
            }
          }.asJava
        pool.invokeAll(tasks).asScala.toSeq.flatMap(_.get())
      } catch {
        case e: java.util.concurrent.ExecutionException =>
          throw Option(e.getCause).getOrElse(e)
      } finally pool.shutdown()
    }
    val body = topBody.filterNot(_.startsWith("shard:")) ++ leafBody
    val txns = body.collect {
      case TxnLine(t) => DefaultWriter -> t.toLong
      case l if l.startsWith("txn:") =>
        val p = l.stripPrefix("txn:")
        val sp = p.lastIndexOf(' ')
        (ExternalCatalogUtils.unescapePathName(p.substring(0, sp)),
          p.substring(sp + 1).toLong)
    }.toMap
    val mor = body.find(_.startsWith("mor:"))
      .map(l => ExternalCatalogUtils.unescapePathName(l.stripPrefix("mor:")))
    // the one `meta:` key THIS release understands (see Manifest.layout);
    // every other meta: line stays accepted-and-ignored per the reserved
    // namespace's contract
    val layout = body.find(_.startsWith("meta:partition-cols="))
      .map(_.stripPrefix("meta:partition-cols=").split('/').toSeq
        .map(ExternalCatalogUtils.unescapePathName))
    // meta:column-ids= — the name -> stable-id mapping the rename fix
    // rides (see the Manifest doc). READER acceptance ships this
    // release, one ahead of any writer, per the two-phase rule. A
    // mapping that does not cover EVERY schema field is rejected
    // loudly: ids exist to resolve columns, and a partial mapping
    // would mis-resolve exactly the fields it omits.
    val columnIds = body.find(_.startsWith("meta:column-ids="))
      .map { l =>
        val ids = l.stripPrefix("meta:column-ids=").split('/')
          .filter(_.nonEmpty).toSeq.map { f =>
            val i = f.lastIndexOf(':')
            require(i > 0, s"malformed meta:column-ids entry '$f' in $p")
            ExternalCatalogUtils.unescapePathName(f.substring(0, i)) ->
              f.substring(i + 1).toInt
          }.toMap
        val unmapped = schema.fieldNames.filterNot(ids.contains)
        require(unmapped.isEmpty,
          s"manifest $p carries meta:column-ids but leaves column(s) " +
            s"${unmapped.mkString(", ")} unmapped — a partial id mapping " +
            "cannot resolve the schema; restore the manifest or drop the " +
            "line")
        ids
      }
    val deltas = body.filter(_.startsWith("delta:")).map { l =>
      val p = l.stripPrefix("delta:")
      val i = p.lastIndexOf('/')
      (p.substring(0, i), p.substring(i + 1))
    }.groupBy(_._1).map { case (d, ns) => d -> ns.map(_._2) }
    val files = body.filterNot(l => l.startsWith("mor:") ||
        l.startsWith("delta:") || l.startsWith("txn:") ||
        // `meta:` is the RESERVED additive header-line namespace. This
        // release understands exactly ONE key (`meta:partition-cols=`,
        // parsed above into Manifest.layout — the writer emits it per
        // the two-phase rule: reader acceptance shipped one release
        // earlier) and accepts-and-ignores every other meta: line so
        // future releases can add annotations without breaking this
        // reader. Unambiguous against dir lines for the same reason as
        // txn:/mor:/shard:: escapePathName escapes ':' itself.
        l.startsWith("meta:") ||
        TxnLine.matches(l)).map { line =>
      // fields are tab-separated: the file path, then optional
      // col=min..max stats (escapePathName escapes '/' and control
      // chars including tab — space is NOT escaped but neither split
      // here is on space — so no tab or '/' occurs inside names;
      // the last '/' splits dir/file)
      val fields = line.split('\t')
      val i = fields(0).lastIndexOf('/')
      // a `rows:N` field (no '=') is the footer row count and a
      // `bytes:N` field the on-disk length; every other field is
      // col=lo..hi stats. A data COLUMN literally named "rows:..." /
      // "bytes:..." still parses as stats — its field contains '='.
      val (rowFields, rest) = fields.drop(1)
        .partition(f => f.startsWith("rows:") && !f.contains('='))
      val (byteFields, rest2) = rest
        .partition(f => f.startsWith("bytes:") && !f.contains('='))
      // `pn:<id>:<escaped-name>` — the per-file physical-name pin a
      // column rename stamps onto pre-rename entries (see FileEntry).
      // '='-free by construction (escapePathName escapes '='), so
      // pre-rename parsers skipped it as an unknown annotation — which
      // is exactly why a pn-bearing manifest bumps the header minor to
      // `.2`: ignoring the pin means reading a renamed column as NULLS
      // off old files, and by-name readers must refuse at the header
      // gate instead.
      val (pnFields, rest2b) = rest2
        .partition(f => f.startsWith("pn:") && !f.contains('='))
      val physNames = pnFields.map { f =>
        val body0 = f.stripPrefix("pn:")
        val sep = body0.indexOf(':')
        require(sep > 0, s"malformed pn field '$f' in $p")
        body0.substring(0, sep).toInt ->
          ExternalCatalogUtils.unescapePathName(body0.substring(sep + 1))
      }.toMap
      // `strs:<col>:<lo>:<hi>` — STRING column bounds (UTF-8 byte
      // order, upper bound prefix-widened at harvest). '='-free by
      // escaping, so pre-strs parsers skip the field: ignoring string
      // bounds only costs file skipping, never correctness — no
      // header bump needed (unlike pn:).
      val (strFields, rest3) = rest2b
        .partition(f => f.startsWith("strs:") && !f.contains('='))
      val strStats = strFields.map { f =>
        val body0 = f.stripPrefix("strs:")
        val i1 = body0.indexOf(':')
        val i2 = body0.indexOf(':', i1 + 1)
        require(i1 > 0 && i2 > i1, s"malformed strs field '$f' in $p")
        ExternalCatalogUtils.unescapePathName(body0.substring(0, i1)) ->
          (ExternalCatalogUtils.unescapePathName(
            body0.substring(i1 + 1, i2)),
            ExternalCatalogUtils.unescapePathName(body0.substring(i2 + 1)))
      }.toMap
      // forward tolerance: any OTHER '='-free field is an additive
      // future annotation this reader doesn't know — skipped, not a
      // crash (stats fields always contain '='; escaping guarantees a
      // real column name's field does too)
      val statFields = rest3.filter(_.contains('='))
      val stats = statFields.map { f =>
        // the name is escaped on write, so the FIRST '=' ends it
        val eq = f.indexOf('=')
        val dots = f.lastIndexOf("..")
        ExternalCatalogUtils.unescapePathName(f.substring(0, eq)) ->
          (f.substring(eq + 1, dots).toDouble,
            f.substring(dots + 2).toDouble)
      }.toMap
      (fields(0).substring(0, i),
        FileEntry(fields(0).substring(i + 1), stats,
          rowFields.headOption.map(_.stripPrefix("rows:").toLong),
          byteFields.headOption.map(_.stripPrefix("bytes:").toLong),
          physNames, strStats))
    }.groupBy(_._1).map { case (d, fs0) => d -> fs0.map(_._2) }
    // meta:check=<escaped-name>:<escaped-predicate-sql> — one line per
    // ENFORCED CHECK constraint, declaration order = line order
    // (escapePathName escapes ':', so the FIRST unescaped ':' splits)
    val checks = body.filter(_.startsWith("meta:check=")).map { l =>
      val p = l.stripPrefix("meta:check=")
      val i = p.indexOf(':')
      require(i > 0, s"malformed meta:check line in $p")
      ExternalCatalogUtils.unescapePathName(p.substring(0, i)) ->
        ExternalCatalogUtils.unescapePathName(p.substring(i + 1))
    }
    Manifest(version, schema, files, txns, deltas, mor, leafNames, layout,
      columnIds, checks)
  }

  /** The delta + data-file lines for one partition directory — the
    * shared body grammar of both manifest formats.
    */
  private def appendDirLines(body: StringBuilder, m: Manifest,
      d: String): Unit = {
    m.deltas.getOrElse(d, Nil).sorted.foreach { n =>
      body.append("delta:").append(d).append('/').append(n).append('\n')
    }
    m.files.getOrElse(d, Nil).sortBy(_.name).foreach { e =>
      body.append(d).append('/').append(e.name)
      e.rows.foreach(r => body.append('\t').append("rows:").append(r))
      e.bytes.foreach(b => body.append('\t').append("bytes:").append(b))
      // physical-name pins, sorted by id for deterministic leaf hashing
      e.physNames.toSeq.sortBy(_._1).foreach { case (id, n) =>
        body.append('\t').append("pn:").append(id).append(':')
          .append(ExternalCatalogUtils.escapePathName(n))
      }
      // string bounds (escaping keeps the field '='-free and the ':'
      // framing unambiguous whatever the values contain)
      e.strStats.toSeq.sortBy(_._1).foreach { case (c, (lo, hi)) =>
        body.append('\t').append("strs:")
          .append(ExternalCatalogUtils.escapePathName(c)).append(':')
          .append(ExternalCatalogUtils.escapePathName(lo)).append(':')
          .append(ExternalCatalogUtils.escapePathName(hi))
      }
      // stats column names are escaped like every other name in the
      // manifest: a raw '=' would truncate the parsed name, a raw tab
      // would break the field framing — one exotic-but-legal column
      // name must not corrupt the manifest for all future readers
      e.stats.toSeq.sortBy(_._1).foreach { case (c, (lo, hi)) =>
        body.append('\t').append(ExternalCatalogUtils.escapePathName(c))
          .append('=').append(lo).append("..").append(hi)
      }
      body.append('\n')
    }
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** How many leaf shards this snapshot should be written with: an
    * explicit `graft.lake.manifest.shards` wins; otherwise single-file
    * v1 below `graft.lake.manifest.shard.threshold` partition
    * directories (default 8192 — the regime where one text file is
    * still a cheap read) and ~2048 directories per leaf above it.
    * 0 = v1.
    */
  /** The configuration lake knobs are read from. NOT `fs.getConf`: the
    * Hadoop FileSystem CACHE pins whatever Configuration object first
    * created this scheme's FS in the JVM — frequently a task-side
    * CLONE of the session conf — so `fs.getConf` silently ignores
    * later session-conf changes. The session's live hadoopConfiguration
    * is the object callers actually set knobs on.
    */
  private def lakeConf(fs: FileSystem): org.apache.hadoop.conf.Configuration =
    SparkSession.getActiveSession.orElse(SparkSession.getDefaultSession)
      .map(_.sparkContext.hadoopConfiguration).getOrElse(fs.getConf)

  private def shardCountFor(fs: FileSystem, nDirs: Int): Int = {
    val conf = lakeConf(fs)
    val explicit = conf.getInt("graft.lake.manifest.shards", 0)
    if (explicit > 0) explicit
    else if (nDirs >= conf.getInt("graft.lake.manifest.shard.threshold", 8192))
      math.max(2, math.ceil(nDirs / 2048.0).toInt)
    else 0
  }

  /** Attempt to publish a manifest version: write to a hidden temp file,
    * then atomically rename to `v<N>.txt`. The rename refuses an existing
    * target, so two racing committers cannot both win version N — the
    * loser gets `false` and either rebases ([[commitStaged]]'s
    * optimistic-concurrency loop) or fails loudly ([[publishManifest]]).
    *
    * Above the sharding threshold (or under an explicit
    * `graft.lake.manifest.shards`) the version is written in FORMAT v2:
    * the dir/file/delta lines are split by `hash(dir) % shards` into
    * CONTENT-ADDRESSED leaf files (`leaf-<md5>.txt`) and the top file
    * carries only header + `shard:` references. A shard whose content
    * is unchanged since the previous version hashes to the SAME leaf
    * name, which already exists on disk and is skipped — so commit
    * write bytes scale with the CHANGED partition footprint, not the
    * partition count (Iceberg's manifest-list design point). The top-
    * file rename stays the single atomic commit point; leaf files are
    * immutable and shared across versions until [[vacuum]] retires the
    * unreferenced ones.
    */
  private[io] def tryPublishManifest(fs: FileSystem, path: String,
      m: Manifest, branch: Option[String] = activeBranch()): Boolean = {
    // every branch-namespace write passes the age governor (the
    // bootstrap publish is exempt by construction — no created-at yet)
    branch.foreach(governBranchAge(fs, path, _))
    val dir = branchManifestDir(path, branch)
    fs.mkdirs(dir)
    val nShards = shardCountFor(fs, allDirs(m).size)
    // minor version = the newest LOAD-BEARING per-file field present:
    // `.2` iff any entry carries a physical-name pin (a rename
    // happened and by-name resolution reads WRONG data — pre-rename
    // parsers must reject at the header gate rather than surface
    // nulls), `.1` iff any entry carries a bytes field (pre-bytes
    // parsers cannot field-split), bare otherwise — so untouched lakes
    // stay readable by every parser that ever could
    val minor =
      if (m.files.values.exists(_.exists(_.physNames.nonEmpty))) ".2"
      else if (m.files.values.exists(_.exists(_.bytes.nonEmpty))) ".1"
      else ""
    val body = new StringBuilder(
      if (nShards == 0) s"graft-lake-manifest v1$minor\n"
      else s"graft-lake-manifest v2$minor\n")
    body.append("schema ").append(m.schema.json).append('\n')
    m.txns.toSeq.sortBy(_._1).foreach { case (w, t) =>
      body.append("txn:").append(ExternalCatalogUtils.escapePathName(w))
        .append(' ').append(t).append('\n')
    }
    m.mor.foreach(k => body.append("mor:")
      .append(ExternalCatalogUtils.escapePathName(k)).append('\n'))
    // escapePathName escapes '/' and '=', so the joined form parses
    // back unambiguously whatever the column names
    m.layout.foreach(cols => body.append("meta:partition-cols=")
      .append(cols.map(ExternalCatalogUtils.escapePathName).mkString("/"))
      .append('\n'))
    // round-trip the column-id mapping when present (a future writer's
    // manifest republished by this release — e.g. a rebase — must not
    // silently strip it; escapePathName escapes ':' and '/', so the
    // joined form parses back unambiguously)
    m.columnIds.foreach(ids => body.append("meta:column-ids=")
      .append(ids.toSeq.sortBy(_._2).map { case (n, i) =>
        s"${ExternalCatalogUtils.escapePathName(n)}:$i" }.mkString("/"))
      .append('\n'))
    // one line per CHECK constraint (see the Manifest doc); ':' is
    // escaped inside both halves, so the first raw ':' splits on read
    m.checks.foreach { case (n, sql) =>
      body.append("meta:check=")
        .append(ExternalCatalogUtils.escapePathName(n)).append(':')
        .append(ExternalCatalogUtils.escapePathName(sql)).append('\n')
    }
    if (nShards == 0) {
      allDirs(m).toSeq.sorted.foreach(appendDirLines(body, m, _))
    } else {
      allDirs(m).toSeq.sorted.groupBy(shardOf(_, nShards))
        .toSeq.sortBy(_._1).foreach { case (_, dirs) =>
          val leafBody = new StringBuilder()
          dirs.foreach(appendDirLines(leafBody, m, _))
          val content = leafBody.toString
          val contentBytes = content.getBytes("UTF-8")
          val leafName = s"leaf-${md5Hex(content)}.txt"
          val leafPath = new Path(dir, leafName)
          // reuse is validated by LENGTH, not bare existence: on an
          // opted-in non-atomic scheme a crashed committer can leave a
          // truncated file at the final leaf name, and trusting it
          // would silently drop that shard's files from every later
          // snapshot. A length mismatch rewrites the leaf (both
          // writers of a name produce identical bytes, so repair races
          // are harmless).
          def intact: Boolean = try
            fs.getFileStatus(leafPath).getLen == contentBytes.length
          catch { case _: java.io.FileNotFoundException => false }
          if (!intact) {
            // content-addressed: two committers racing the same leaf
            // write identical bytes, so a lost rename is harmless
            val tmp = new Path(dir,
              s".tmp-${UUID.randomUUID().toString.take(8)}")
            val out = fs.create(tmp, true)
            try out.write(contentBytes) finally out.close()
            if (!fs.rename(tmp, leafPath)) {
              // target exists. Re-check BEFORE deleting anything: a
              // racing repairer may have just landed the good bytes,
              // and deleting a good published leaf would open a
              // missing-file window for every reader of the versions
              // sharing it. Only a still-truncated leaf — which
              // readers already reject loudly via the hash check — is
              // ever deleted here.
              if (intact) fs.delete(tmp, true)
              else {
                fs.delete(leafPath, false)
                if (!fs.rename(tmp, leafPath)) fs.delete(tmp, true)
              }
            }
          }
          body.append("shard:").append(leafName).append('\n')
        }
    }
    val tmp = new Path(dir, s".tmp-${UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(body.toString.getBytes("UTF-8")) finally out.close()
    val dst = new Path(dir, f"v${m.version}%09d.txt")
    // the arbitration primitive must FAIL atomically on an existing
    // target. HDFS rename does; POSIX rename(2) — what the local
    // filesystem's rename delegates to — silently REPLACES, so an
    // exists() pre-check alone leaves a window where two committers
    // both "win" and one snapshot vanishes. On file:// use link(2)
    // (hard-link create fails with EEXIST atomically), then unlink the
    // temp; HDFS rename refuses an existing target by contract. Any
    // OTHER scheme only has the racy exists+rename fallback, which was
    // an acceptable documented caveat under a single-committer contract
    // — but the API now actively invites concurrent writers (optimistic
    // rebase, per-writer txn slots), so those schemes must OPT IN
    // explicitly rather than silently degrade (raw S3 needs a
    // conditional-PUT manifest swap — class doc).
    val scheme = Option(fs.getUri.getScheme).getOrElse("")
    val arbiterClass = lakeConf(fs).get("graft.lake.commit.arbiter")
    if (arbiterClass != null && arbiterClass.nonEmpty) {
      // deployment-provided CAS primitive (object stores: S3
      // conditional PUT, GCS generation-match, ... — [[CommitArbiter]])
      val arbiter = Class.forName(arbiterClass)
        .getDeclaredConstructor().newInstance().asInstanceOf[CommitArbiter]
      val ok = arbiter.publishIfAbsent(fs, tmp, dst)
      if (fs.exists(tmp)) fs.delete(tmp, true)
      ok
    } else if ("file" == scheme) {
      val ok = try {
        java.nio.file.Files.createLink(
          java.nio.file.Paths.get(dst.toUri.getPath),
          java.nio.file.Paths.get(tmp.toUri.getPath))
        true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      }
      fs.delete(tmp, true)
      ok
    } else {
      if (scheme != "hdfs" &&
          !lakeConf(fs).getBoolean("graft.lake.allow.nonatomic.commit", false)) {
        fs.delete(tmp, true)
        sys.error(s"commit arbitration on scheme '$scheme' would fall " +
          "back to exists()+rename(), which is NOT atomic there: two " +
          "racing committers can both believe they won and one snapshot " +
          "silently vanishes. Commit on file:// or hdfs:// (verified " +
          "atomic no-replace primitives), plug in the store's " +
          "compare-and-swap write via " +
          "spark.hadoop.graft.lake.commit.arbiter=<class implementing " +
          "graft.io.CommitArbiter> (S3 conditional PUT, GCS " +
          "generation-match), or — if this lake has exactly ONE " +
          "writer — opt in with " +
          "spark.hadoop.graft.lake.allow.nonatomic.commit=true")
      }
      if (fs.exists(dst) || !fs.rename(tmp, dst)) {
        fs.delete(tmp, true)
        false
      } else true
    }
  }

  /** Publish or fail loudly — for the paths that must not rebase (lake
    * adoption, tests).
    */
  private[io] def publishManifest(fs: FileSystem, path: String, m: Manifest): Unit =
    if (!tryPublishManifest(fs, path, m))
      sys.error("concurrent commit detected: manifest " +
        f"v${m.version}%09d.txt already published")

  // ---- commit --------------------------------------------------------------

  /** Exact row count plus per-column (min, max) bounds from one staged
    * file's parquet footer — a metadata read, no data bytes. A column is
    * reported only if EVERY row group has non-null statistics for it;
    * long bounds are widened through the double conversion
    * (nextDown/nextUp) so the stored range is always conservative. The
    * row count (free in the same footer) powers [[rowCount]]'s
    * metadata-only COUNT(*).
    *
    * STRING (UTF8-annotated binary) columns harvest into the third
    * slot: bounds in UTF-8 unsigned byte order — parquet's own binary
    * comparison, NOT Java's UTF-16 `compareTo` (they diverge for
    * supplementary-plane code points). Long values are bounded at 64
    * code points in the manifest: the lower bound TRUNCATES (a prefix
    * sorts <= the value), the upper bound truncates-and-INCREMENTS
    * (the successor prefix sorts > every string it prefixes —
    * [[LakeFilters.incrementUtf8]]); an unincrementable prefix drops
    * the column's bounds for the file (conservative, not wrong).
    */
  private[io] def footerInfo(conf: org.apache.hadoop.conf.Configuration,
      file: Path, statsCols: Set[String]): (Long,
      Map[String, (Double, Double)], Map[String, (String, String)]) = {
    import scala.jdk.CollectionConverters._
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
    val meta = try reader.getFooter finally reader.close()
    val blocks = meta.getBlocks.asScala.toSeq
    val rows = blocks.map(_.getRowCount).sum
    def harvest[T](c: String)(
        one: org.apache.parquet.column.statistics.Statistics[_]
          => Option[(T, T)]): Option[Seq[(T, T)]] = {
      val perBlock = blocks.map { b =>
        b.getColumns.asScala.find(_.getPath.toDotString == c)
          .map(_.getStatistics)
          .filter(s => s != null && !s.isEmpty && s.hasNonNullValue)
          .flatMap(one)
      }
      if (perBlock.exists(_.isEmpty)) None else Some(perBlock.flatten)
    }
    val stats = statsCols.flatMap { c =>
      harvest(c) { s =>
        // parquet-mr seeds double stats from the FIRST value, so a row
        // group whose first value is NaN reports NaN bounds; readBox's
        // `mx >= lo && mn <= hi` is then false and the file would be
        // silently SKIPPED despite possibly holding in-range rows.
        // Non-finite bounds (NaN, ±Inf) degrade to "no stats = cannot
        // skip" — the conservative direction.
        ((s.genericGetMin, s.genericGetMax) match {
          case (lo: java.lang.Long, hi: java.lang.Long) =>
            Some((Math.nextDown(lo.toDouble), Math.nextUp(hi.toDouble)))
          case (lo: Number, hi: Number) =>
            Some((lo.doubleValue, hi.doubleValue))
          case _ => None // non-numeric column: handled by strStats below
        }).filter { case (lo, hi) =>
          java.lang.Double.isFinite(lo) && java.lang.Double.isFinite(hi) }
      }.map(bs => c -> (bs.map(_._1).min, bs.map(_._2).max))
    }.toMap
    val strStats = statsCols.flatMap { c =>
      harvest(c) { s =>
        (s.genericGetMin, s.genericGetMax) match {
          case (lo: org.apache.parquet.io.api.Binary,
              hi: org.apache.parquet.io.api.Binary)
            if s.`type`().getLogicalTypeAnnotation ==
              org.apache.parquet.schema.LogicalTypeAnnotation.stringType() =>
            Some((lo.toStringUsingUTF8, hi.toStringUsingUTF8))
          case _ => None
        }
      }.flatMap { bs =>
        val lo = bs.map(_._1).min(LakeFilters.utf8Ordering)
        val hi = bs.map(_._2).max(LakeFilters.utf8Ordering)
        val loT = LakeFilters.truncateCodePoints(lo, 64)
        if (hi.codePointCount(0, hi.length) <= 64) Some(c -> (loT, hi))
        else LakeFilters.incrementUtf8(
          LakeFilters.truncateCodePoints(hi, 64)).map(w => c -> (loT, w))
      }
    }.toMap
    (rows, stats, strStats)
  }

  /** Leaf partition directories (relative path -> absolute Path) `depth`
    * `col=value` levels below `root`.
    */
  private def leafPartitionDirs(fs: FileSystem, root: Path,
      depth: Int): Seq[(String, Path)] = {
    def walk(dir: Path, rel: String, d: Int): Seq[(String, Path)] =
      fs.listStatus(dir).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.contains("="))
        .flatMap { st =>
          val childRel = if (rel.isEmpty) st.getPath.getName
            else s"$rel/${st.getPath.getName}"
          if (d == 1) Seq(childRel -> st.getPath)
          else walk(st.getPath, childRel, d - 1)
        }
    walk(root, "", depth)
  }

  /** The data files of one partition directory (the one definition of
    * "live data file" — underscore/dot-prefixed side files excluded —
    * shared by staging and legacy-lake adoption so they can never
    * disagree).
    */
  private def dataFiles(fs: FileSystem,
      dir: Path): Seq[org.apache.hadoop.fs.FileStatus] =
    fs.listStatus(dir).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))

  /** Spark-rendered partition directory names for a set of distinct
    * partition value tuples, WITHOUT a probe write job: Spark's file
    * writer computes each partition path as
    * `getPartitionPathString(name, Cast(value, StringType, sessionTz))`
    * (see `PartitioningUtils.partitionPathExpression`), and this
    * evaluates exactly that composition on the driver — the names still
    * come from Spark's own rendering + escaping functions, not a
    * re-derivation, so a commit that EMPTIES a partition (a CDC fold)
    * retires the right manifest entry even for values whose rendering
    * is non-obvious (escaping, null/empty → default partition name).
    * Round 18: this replaced a one-row-per-tuple probe parquet write
    * that cost a full Spark job (~0.3 s) on EVERY CDC/upsert/row-level
    * commit; SparkDirRenderSpec pins byte parity against a real
    * partitioned write over the exotic-value corpus.
    */
  private[io] def sparkDirsFor(spark: SparkSession,
      partSchema: StructType, parts: Array[Seq[Any]]): Set[String] = {
    val tz = Option(spark.sessionState.conf.sessionLocalTimeZone)
    parts.map { vs =>
      partSchema.fields.zip(vs).map { case (f, v) =>
        val rendered = org.apache.spark.sql.catalyst.expressions.Cast(
          org.apache.spark.sql.catalyst.expressions.Literal.create(
            v, f.dataType),
          org.apache.spark.sql.types.StringType, tz).eval(null)
        org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
          .getPartitionPathString(f.name,
            if (rendered == null) null else rendered.toString)
      }.mkString("/")
    }.toSet
  }

  /** Write `df` partitioned by `partitionCols` into a fresh staging dir
    * and return (stagingPath, relative dir path -> staged file entries).
    * `statsCols` names columns whose per-file min/max should be
    * harvested from the staged footers into the manifest for
    * [[readRange]]/[[readBox]] file skipping.
    */
  private[io] def stage(spark: SparkSession, fs: FileSystem, path: String,
      df: DataFrame, partitionCols: Seq[String],
      statsCols: Seq[String]): (Path, Map[String, Seq[FileEntry]]) = {
    requireSupportedPartitionType(df, partitionCols)
    // the age governor's REFUSAL fires here, before a byte is staged
    // (nothing to unlink); its warning fires once, at publish
    activeBranch().foreach(governBranchAge(fs, path, _, refuseOnly = true))
    // CHECK constraints: every staged write evaluates the head's
    // declared predicates per row inside the write job (a violation
    // fails the job before anything commits) — the API-path twin of
    // the SQL surface's CheckInvariant enforcement
    val checked = latestManifest(fs, path) match {
      case Some(h) if h.checks.nonEmpty =>
        applyChecks(spark, df, h.schema, h.checks)
      case _ => df
    }
    val staging = new Path(new Path(path, StagingDirName),
      UUID.randomUUID().toString.take(8))
    // a refused write (a CHECK violation, an in-plan raise_error) leaves
    // no staging directory behind: nothing will ever commit or sweep it
    try checked.write.mode("overwrite").partitionBy(partitionCols: _*)
      .parquet(staging.toString)
    catch { case t: Throwable =>
      try fs.delete(staging, true)
      catch { case scala.util.control.NonFatal(e) => t.addSuppressed(e) }
      throw t
    }
    val conf = spark.sparkContext.hadoopConfiguration
    val pairs = leafPartitionDirs(fs, staging, partitionCols.size)
      .flatMap { case (rel, dirPath) =>
        dataFiles(fs, dirPath).map(rel -> _)
      }
    // footer harvesting (row counts + optional min/max bounds) is one
    // independent metadata read per staged file — run them on a bounded
    // pool, not serially on the driver thread: a many-partition commit
    // would otherwise pay file-count x round-trip latency (the 2.5k-file
    // day layout in LakeBench, or any object store at the design point).
    // Byte lengths come free from the listing above (no extra RPC).
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(16, pairs.size)))
    val dirs = try {
      import scala.jdk.CollectionConverters._
      val tasks: java.util.List[java.util.concurrent.Callable[(String, FileEntry)]] =
        pairs.map { case (rel, st) =>
          new java.util.concurrent.Callable[(String, FileEntry)] {
            override def call(): (String, FileEntry) = {
              val (rows, stats, strStats) =
                footerInfo(conf, st.getPath, statsCols.toSet)
              rel -> FileEntry(st.getPath.getName, stats, Some(rows),
                Some(st.getLen), strStats = strStats)
            }
          }
        }.asJava
      pool.invokeAll(tasks).asScala.map(_.get()).toSeq
        .groupBy(_._1).map { case (rel, es) => rel -> es.map(_._2) }
    } finally pool.shutdown()
    (staging, dirs)
  }

  /** Refuse a write that LOOKS like a column rename: the incoming frame
    * omits an existing column and carries a new one of the same type.
    * Without column-ID mapping (Delta column mapping / Iceberg field
    * IDs) a rename reaching an incremental commit silently becomes
    * drop+add across snapshots — the old column nulls out for new rows,
    * the change feed classifies the "renamed" column's history as
    * unrelated drop/add, and time travel reads two half-schemas nobody
    * declared. Detection is a HEURISTIC, so the error names the escape
    * hatch for the legitimate omit+add case: carry the omitted column
    * explicitly (`lit(null).cast(<type>).as("<name>")`), which states
    * "same column, no values" in the one place the ambiguity lives.
    * The real fix is name->id indirection in the manifest header (the
    * reserved `meta:` namespace is the vehicle — see the manifest
    * format note); until a writer emits ids, renames REFUSE rather
    * than corrupt.
    */
  private def refuseSuspectedRename(base: StructType, incoming: StructType,
      what: String): Unit = {
    val missing = base.fields.filter(f =>
      !incoming.fieldNames.contains(f.name))
    val added = incoming.fields.filter(f =>
      !base.fieldNames.contains(f.name))
    val suspects = for {
      m <- missing; a <- added if m.dataType == a.dataType
    } yield (m.name, a.name, m.dataType)
    if (suspects.nonEmpty) sys.error(
      s"suspected column rename in the $what (refusing: a rename would " +
        "silently become drop+add across snapshots, corrupting the " +
        "change feed and time travel): " +
        suspects.map { case (o, n, t) =>
          s"'$o' -> '$n' (${t.simpleString})" }.mkString(", ") +
        s". If these are genuinely a new column plus an intentionally " +
        s"omitted one, carry the omitted column explicitly — " +
        s"lit(null).cast(\"${suspects.head._3.simpleString}\")" +
        s".as(\"${suspects.head._1}\") — to state the intent. " +
        "True renames go through PartitionedLake.renameColumn (SQL: " +
        "ALTER TABLE ... RENAME COLUMN), which rebinds the name to its " +
        "stable column id in one manifest commit — old files stay " +
        "readable and the change feed stays consistent.")
  }

  /** Additive schema evolution — the one gate every incremental data
    * write ([[append]], [[upsert]], [[overwritePartitions]]) passes.
    * The `incoming` frame may CARRY NEW COLUMNS (the snapshot schema
    * widens; parquet's by-name reads give old files null there, so the
    * whole lake surfaces them) and may OMIT lake columns (nulls). A
    * column present in both MUST keep its type — refused here, not left
    * to union analysis, because union quietly COERCES (long + double ->
    * double) and the widened schema would then fail against untouched
    * partitions' old files at read time, poisoning the lake. A write
    * that LOOKS like a rename refuses too ([[refuseSuspectedRename]]).
    * Returns the widened schema: the lake's columns (lake types), then
    * the incoming frame's new ones; `what` names the incoming side.
    */
  private def evolvedSchema(lake: StructType, incoming: StructType,
      what: String): StructType = {
    val conflicts = incoming.filter(f =>
      lake.fieldNames.contains(f.name) && lake(f.name).dataType != f.dataType)
    require(conflicts.isEmpty,
      "type change is not supported (only additive evolution): " +
        conflicts.map(f => s"${f.name}: lake has " +
          s"${lake(f.name).dataType.simpleString}, $what has " +
          s"${f.dataType.simpleString}").mkString("; "))
    refuseSuspectedRename(lake, incoming, what)
    StructType(lake.fields ++
      incoming.fields.filterNot(f => lake.fieldNames.contains(f.name)))
  }

  /** Extend (or create) the stable column-id mapping so it covers every
    * field of `schema`: existing entries keep their ids (including any
    * entries for names outside the schema — a FUTURE writer's extras
    * round-trip untouched), unmapped fields get fresh ids above the
    * current max, assigned in schema field order (deterministic).
    */
  private[io] def assignColumnIds(prev: Option[Map[String, Int]],
      schema: StructType): Map[String, Int] = {
    // the tombstone namespace is reserved (see [[DroppedIdPrefix]]): a
    // real column there would collide with a dropped id's floor entry
    // and un-pin the max-monotone invariant that prevents id reuse
    val reserved = schema.fieldNames.filter(_.startsWith(DroppedIdPrefix))
    require(reserved.isEmpty,
      s"column name(s) ${reserved.mkString(", ")} use the reserved " +
        s"'$DroppedIdPrefix' prefix (column-id tombstones); rename them")
    val p = prev.getOrElse(Map.empty)
    var next = if (p.isEmpty) 1 else p.values.max + 1
    p ++ schema.fieldNames.filterNot(p.contains).map { n =>
      val id = next; next += 1; n -> id
    }
  }

  /** Additive schema merge for a rebase: `head`'s fields first, then the
    * commit's NEW fields. A field present in both must keep its type —
    * same rule as [[upsert]]'s evolution check, re-applied here because
    * a concurrent committer may have widened the schema under us.
    */
  private def mergeSchemas(head: StructType, ours: StructType): StructType = {
    val conflicts = ours.fields.filter(f =>
      head.fields.exists(g => g.name == f.name && g.dataType != f.dataType))
    require(conflicts.isEmpty,
      "concurrent commit conflict: schema type change for " +
        conflicts.map(_.name).mkString(", "))
    StructType(head.fields ++
      ours.fields.filterNot(f => head.fields.exists(_.name == f.name)))
  }

  /** Move staged files into the lake and publish the next manifest,
    * retrying with an OPTIMISTIC REBASE when another committer wins the
    * version race.
    *
    * `replaced` is the set of partition directory paths whose previous
    * files (and merge-on-read deltas) this commit supersedes: for a full
    * overwrite, every directory in the old manifest; for an upsert/CDC
    * commit, the directories of the touched partition VALUE TUPLES
    * (Spark-rendered — the staged directory names, plus [[sparkDirsFor]]
    * probe names for partitions the commit empties — so the manifest
    * bookkeeping can never diverge from Spark's path encoding).
    *
    * Concurrency: the manifest rename is the commit point; a lost race
    * means the head advanced while this commit was computed against
    * `old`. The commit's DATA is still valid if no intervening commit
    * touched the same partitions (the merge/fold read only `replaced`
    * partitions' rows), so the loop re-resolves the head and, when
    * `replaced` is disjoint from every directory changed since `old`,
    * re-publishes on top of it (schemas merged additively). An overlap —
    * or exhausted retries — fails loudly AFTER unlinking this commit's
    * moved-but-never-referenced files, leaving the lake exactly at the
    * winner's snapshot. Directories the commit EMPTIES are only
    * de-referenced here; the files stay on disk for pinned readers,
    * time travel, and [[changesBetween]] pre-images until [[vacuum]].
    *
    * A FULL OVERWRITE (`fullOverwrite = true`) rebases differently: its
    * contract is "supersede everything live at commit time", so on a
    * lost race the replaced set GROWS to the new head's directories
    * (serial-equivalent to the overwrite landing second) instead of
    * conflict-checking.
    *
    * `old` is the manifest the caller already resolved for this commit —
    * threaded through rather than re-read (at the class doc's stated
    * manifest ceiling a re-resolve is a ~100 MB driver read; the
    * no-contention fast path must not pay it twice).
    */
  private[io] def commitStaged(fs: FileSystem, path: String, staging: Path,
      staged: Map[String, Seq[FileEntry]], replaced: Set[String],
      schema: StructType, old: Option[Manifest], batchId: Option[Long],
      stagedDeltas: Map[String, Seq[FileEntry]] = Map.empty,
      deltaStaging: Option[Path] = None,
      morKey: Option[String] = None,
      replacedDeltas: Option[Set[String]] = None,
      writerId: String = DefaultWriter,
      fullOverwrite: Boolean = false,
      appendOnly: Boolean = false,
      bootstrapLayout: Option[Seq[String]] = None,
      replaceAndAdd: Boolean = false): Unit = {
    // a copy-on-write commit supersedes a touched partition's deltas
    // along with its data files; a merge-on-read commit supersedes ONLY
    // the deltas (base data carries over verbatim — that's the point).
    // An APPEND-ONLY commit supersedes nothing: staged files MERGE into
    // their directories' live lists, so there is no replaced set to
    // cross-check the staged names against (they come straight from
    // Spark's own staged write, not from a collected-tuple probe) and
    // no conflict surface — racing appends always rebase cleanly into
    // consecutive versions.
    // a REPLACE-AND-ADD commit (SQL row-level ops — ReplaceData) may
    // stage directories beyond the replaced set: a MERGE's NOT MATCHED
    // INSERT can target partitions the scan never read, which merge
    // into their live lists exactly like an append
    val unexpected =
      if (appendOnly || replaceAndAdd) Set.empty[String]
      else staged.keySet.diff(replaced) ++
        stagedDeltas.keySet.diff(replacedDeltas.getOrElse(replaced))
    require(unexpected.isEmpty,
      "partition path encoding diverged from Spark's for: " +
        unexpected.mkString(", ") + " — refusing to commit")
    val commitId = UUID.randomUUID().toString.take(8)
    def move(from: Path, dirs: Map[String, Seq[FileEntry]],
        prefix: String): Map[String, Seq[FileEntry]] =
      dirs.map { case (d, entries) =>
        val destDir = new Path(path, d)
        fs.mkdirs(destDir)
        d -> entries.map { e =>
          val finalName = s"$prefix$commitId-${e.name}"
          require(fs.rename(new Path(new Path(from, d), e.name),
            new Path(destDir, finalName)), s"rename failed for $d/${e.name}")
          e.copy(name = finalName)
        }
      }
    val moved = move(staging, staged, "c")
    // delta sidecars are named `delta-<commit>-...` — NOT dot/underscore
    // prefixed, because Spark's file index silently drops hidden files
    // even from explicit lists. Nothing mistakes them for data: every
    // consumer resolves files through the manifest, and legacy-lake
    // adoption (the one directory-listing path) only runs on
    // manifest-less lakes, which cannot have deltas.
    val movedDeltas = deltaStaging.map(ds =>
      move(ds, stagedDeltas, "delta-")).getOrElse(Map.empty)
    fs.delete(staging, true)
    deltaStaging.foreach(ds => fs.delete(ds, true))
    def unlinkMoved(): Unit = {
      (moved ++ movedDeltas).foreach { case (d, entries) =>
        entries.foreach(e => fs.delete(new Path(new Path(path, d), e.name), false))
      }
    }
    val nullableSchema = StructType(schema.fields.map(_.copy(nullable = true)))
    var base = old
    // the overwrite contract grows the replaced set per rebase; every
    // other commit's stays fixed at what its data actually read
    var replacedNow = replaced
    var attempts = 0
    while (true) {
      val deltasReplaced = replacedDeltas.getOrElse(replacedNow)
      val baseFiles = base.map(_.files).getOrElse(Map.empty)
      // an APPEND into a directory with live merge-on-read deltas would
      // SILENTLY LOSE ROWS: the append carries base.deltas forward
      // unsuperseded, and frameFor's MOR merge anti-joins ALL files of a
      // dirty directory (post-delta appends included) against the delta
      // identity keys — an inserted row whose (partition, key) matches
      // any live delta row (re-inserting a CDC-deleted key, a key with a
      // pending 'U' post-image) disappears from every read until
      // compact(). Refuse loudly instead — checked INSIDE the rebase
      // loop, because a racing cdcSinkMergeOnRead can add deltas to a
      // directory between this commit's manifest read and its publish.
      if (appendOnly || replaceAndAdd) {
        // for replace-and-add, only the ADDED directories append into
        // live lists (replaced ones supersede their deltas wholesale —
        // the carried rows are the post-merge snapshot)
        val appendedInto =
          if (appendOnly) moved.keySet else moved.keySet.diff(replacedNow)
        val dirty = appendedInto
          .intersect(base.map(_.deltas.keySet).getOrElse(Set.empty))
        if (dirty.nonEmpty) {
          unlinkMoved()
          sys.error(s"cannot append into $path: live merge-on-read " +
            s"deltas cover the target partition(s) " +
            s"${dirty.toSeq.sorted.mkString(", ")} — appended rows whose " +
            "key matches a live delta would silently vanish from reads; " +
            "run PartitionedLake.compact(...) first (materializes the " +
            "deltas away), or use upsert (which supersedes the touched " +
            "partitions' deltas)")
        }
      }
      val newFiles =
        if (appendOnly)
          // merge, don't replace: each staged directory's files join the
          // live list (fresh commit-prefixed names can never collide)
          moved.foldLeft(baseFiles) { case (acc, (d, es)) =>
            acc + (d -> (acc.getOrElse(d, Seq.empty) ++ es))
          }
        else if (replaceAndAdd)
          // ReplaceData semantics: scanned (replaced) directories become
          // exactly their staged rewrite — including vanishing when the
          // rewrite emptied them — while un-scanned staged directories
          // (NOT MATCHED inserts) merge into their live lists
          moved.foldLeft(baseFiles -- replacedNow) { case (acc, (d, es)) =>
            if (replacedNow.contains(d)) acc + (d -> es)
            else acc + (d -> (acc.getOrElse(d, Seq.empty) ++ es))
          }
        else baseFiles -- replacedNow ++ moved
      val newDeltas = (base.map(_.deltas).getOrElse(Map.empty)
        -- deltasReplaced) ++
        movedDeltas.view.mapValues(_.map(_.name)).toMap
      // two merge-on-read lineages with DIFFERENT key columns cannot
      // share a lake: if the head's live deltas are keyed differently
      // from this commit's, the rebase would re-key someone's log
      val baseMor = base.flatMap(_.mor)
      if (morKey.isDefined && baseMor.isDefined && baseMor != morKey) {
        unlinkMoved()
        sys.error(s"concurrent commit conflict on $path: merge-on-read " +
          s"deltas keyed by '${baseMor.get}' are live; cannot fold ops " +
          s"keyed by '${morKey.get}'")
      }
      val mor = if (newDeltas.isEmpty) None
        else morKey.orElse(baseMor)
      val baseTxns = base.map(_.txns).getOrElse(Map.empty)
      val txns = baseTxns ++ batchId.map(b => writerId ->
        (baseTxns.get(writerId).fold(b)(_ max b)))
      val snapshotSchema = base match {
        case Some(h) if !(h eq old.orNull) =>
          // a RENAME landed between this commit's manifest read and its
          // publish: our staged files were written under the OLD name,
          // and the additive merge below would silently resurrect that
          // name as a second column next to the renamed one. Loud
          // conflict — the caller re-runs against the renamed snapshot
          // (rare: renames are maintenance commits).
          val oldIds = old.flatMap(_.columnIds).getOrElse(Map.empty)
          val renamedUnderUs = nullableSchema.fields
            .filterNot(f => h.schema.fieldNames.contains(f.name))
            .flatMap(f => oldIds.get(f.name).flatMap(i =>
              h.columnIds.getOrElse(Map.empty)
                .find { case (n2, i2) => i2 == i && n2 != f.name &&
                  // a tombstone holding the id is a DROP, not a rename
                  !n2.startsWith(DroppedIdPrefix) }
                .map { case (n2, _) => s"'${f.name}' -> '$n2'" }))
          if (renamedUnderUs.nonEmpty) {
            unlinkMoved()
            sys.error(s"concurrent commit conflict on $path: column(s) " +
              s"${renamedUnderUs.mkString(", ")} were renamed by a racing " +
              "committer after this commit read the schema; re-run " +
              "against the new snapshot")
          }
          // same hazard for a racing DROP: our staged files carry real
          // bytes for the dropped column, and the additive merge would
          // silently resurrect it as a fresh-id column whose old rows
          // all read null. The tombstone entry identifies the drop.
          val droppedUnderUs = nullableSchema.fields
            .filterNot(f => h.schema.fieldNames.contains(f.name))
            .flatMap(f => oldIds.get(f.name).filter(i =>
              h.columnIds.getOrElse(Map.empty)
                .get(droppedKey(i)).contains(i)).map(_ => f.name))
          if (droppedUnderUs.nonEmpty) {
            unlinkMoved()
            sys.error(s"concurrent commit conflict on $path: column(s) " +
              s"${droppedUnderUs.mkString(", ")} were dropped by a racing " +
              "committer after this commit read the schema; re-run " +
              "against the new snapshot")
          }
          mergeSchemas(h.schema, nullableSchema)
        case _ => nullableSchema
      }
      // the layout persists across commits: derived from the new live
      // directories when any exist, carried from the predecessor when
      // this commit empties the lake — so an emptied lake stays
      // SQL-insertable instead of losing its partition identity
      val newDirs = newFiles.keySet ++ newDeltas.keySet
      val layout =
        if (newDirs.nonEmpty) Some(colsOfDir(newDirs.head))
        // predecessor's dirs or ITS declaration; an EMPTY bootstrap
        // (zero-row first write/append) still records the caller's
        // declared columns, so the lake is insertable from version 1
        else base.flatMap(layoutOf).orElse(bootstrapLayout)
      // the writer half of column ids (the reader shipped one release
      // earlier, per the two-phase rule): every commit publishes a
      // FULL mapping — base entries keep their ids, fields the base
      // never mapped get fresh ids above the max, so additive
      // evolution extends the mapping instead of dropping it and
      // renames ([[renameColumn]]) always have ids to rebind
      val carriedIds = Some(assignColumnIds(
        base.flatMap(_.columnIds), snapshotSchema))
      val ok = tryPublishManifest(fs, path, Manifest(
        base.map(_.version + 1).getOrElse(1L), snapshotSchema, newFiles,
        txns, newDeltas, mor, layout = layout, columnIds = carriedIds,
        // constraints are table metadata like the layout: every data
        // commit (append, upsert, overwrite, rebase re-publish) carries
        // the head's checks forward verbatim
        checks = base.map(_.checks).getOrElse(Nil)))
      if (ok) return
      attempts += 1
      val head = latestManifest(fs, path).getOrElse(
        sys.error(s"manifest for $path vanished during commit"))
      // a racing duplicate of the SAME writer's batch already landed:
      // applying ours on top would double-apply — drop this commit whole
      // (the transaction-level replay guard, re-checked post-race; keyed
      // by writer, so another stream's unrelated batch ids never
      // swallow this one)
      if (batchId.exists(b => head.txns.get(writerId).exists(_ >= b))) {
        unlinkMoved(); return
      }
      if (fullOverwrite) {
        // overwrite supersedes whatever is live NOW — serial-equivalent
        // to the overwrite committing after the racer
        replacedNow = replacedNow ++ allDirs(head)
      } else {
        val conflict = changedDirs(base, head)
          .intersect(replacedNow ++ replacedDeltas.getOrElse(Set.empty))
        if (conflict.nonEmpty || attempts > 5) {
          unlinkMoved()
          sys.error(s"concurrent commit conflict on $path: " +
            (if (conflict.nonEmpty)
              s"partitions ${conflict.mkString(", ")} were changed by a " +
                "racing committer after this commit read them; re-run " +
                "against the new snapshot"
            else s"lost the publish race $attempts times; giving up"))
        }
      }
      if (attempts > 8) { // overwrite path needs its own bound
        unlinkMoved()
        sys.error(s"concurrent commit conflict on $path: lost the " +
          s"publish race $attempts times; giving up")
      }
      base = Some(head)
    }
  }

  /** Adopt a pre-protocol lake (Hive-layout parquet written without a
    * manifest) by publishing a v1 manifest listing its current files —
    * run once, before the first incremental commit, so untouched
    * partitions survive that commit. Returns the manifest.
    */
  private def manifestOrMigrate(spark: SparkSession, fs: FileSystem,
      path: String, depth: Int): Option[Manifest] =
    latestManifest(fs, path).orElse {
      if (!fs.exists(new Path(path))) None
      else {
        val dirs = leafPartitionDirs(fs, new Path(path), depth)
          .map { case (rel, dirPath) =>
            // adopted legacy files carry no footer row counts (rowCount
            // stays None) but their byte lengths are free here, so size
            // statistics work from adoption onward
            rel -> dataFiles(fs, dirPath).map(st =>
              FileEntry(st.getPath.getName, bytes = Some(st.getLen)))
          }.toMap
        // a TOO-SHALLOW depth walks to internal tree nodes: directories
        // resolve but hold sub-directories, not data files. Publishing
        // that adoption would hide every existing row from manifest
        // reads (and let vacuum later destroy them) while the caller's
        // layout "matches" — the one shape that must refuse, not adopt
        if (dirs.nonEmpty && dirs.valuesIterator.forall(_.isEmpty))
          sys.error(s"cannot adopt the pre-protocol lake at $path: " +
            s"no data files at partition depth $depth (the layout is " +
            "nested deeper) — pass the lake's full partition-column " +
            "list")
        if (dirs.isEmpty) None
        else {
          val schema = spark.read.parquet(path).schema
          val m = Manifest(1L,
            StructType(schema.fields.map(_.copy(nullable = true))), dirs)
          publishManifest(fs, path, m)
          Some(m)
        }
      }
    }

  /** Bootstrap guard for incremental writers ([[append]]/[[upsert]]):
    * when adoption resolves NOTHING but the path holds real content, a
    * bootstrap commit would publish a manifest that silently hides it
    * (the TOO-DEEP depth mismatch: the walk finds no leaf directories
    * at the claimed depth, so the path looks absent). Refuse loudly;
    * protocol scratch dirs (`_staging`, `_manifest`) don't count as
    * content.
    */
  private def requireBootstrapSafe(fs: FileSystem, path: String,
      partitionCols: Seq[String]): Unit = {
    val root = new Path(path)
    if (fs.exists(root) && fs.listStatus(root).exists { st =>
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      })
      sys.error(s"refusing to bootstrap a lake over existing data at " +
        s"$path: nothing adoptable at partition depth " +
        s"${partitionCols.size} (${partitionCols.mkString(", ")}) but " +
        "the directory is not empty — is the partition-column list " +
        "shallower than the physical layout?")
  }

  /** The head an incremental writer ([[append]], [[upsert]], [[cdcSink]],
    * [[cdcSinkMergeOnRead]]) commits on top of: the latest manifest, a
    * pre-protocol lake adopted first ([[manifestOrMigrate]]).
    *
    * None SKIPS the batch: `batchId` is at or below the high-water mark
    * `writerId`'s manifest slot records, so a redelivered micro-batch is
    * skipped whole — the TRANSACTION-level replay guard that makes the
    * writers exactly-once under `foreachBatch`/streaming-sink replay,
    * keyed by writer so one streaming query's guard never swallows
    * another's batches. `Some(None)` is an absent lake, which each
    * writer handles its own way (bootstrap or no-op). A present head's
    * partition layout must match the writer's `partitionCols` (`what`
    * labels the refusal).
    */
  private def headFor(spark: SparkSession, fs: FileSystem, path: String,
      partitionCols: Seq[String], batchId: Option[Long], writerId: String,
      what: String): Option[Option[Manifest]] = {
    val head = manifestOrMigrate(spark, fs, path, partitionCols.size)
    if (batchId.exists(b => head.exists(_.txns.get(writerId).exists(_ >= b))))
      None
    else {
      requireLayoutMatch(head, partitionCols, what)
      Some(head)
    }
  }

  /** Full-snapshot write (overwrite semantics): every previously-live file
    * is superseded; directories the new snapshot no longer uses are
    * de-referenced by the manifest and stay on disk for pinned readers,
    * time travel, and [[changesBetween]] pre-images until [[vacuum]]
    * physically reclaims them.
    */
  def write(df: DataFrame, path: String, partitionCol: String): Unit =
    write(df, path, Seq(partitionCol), Nil)

  def write(df: DataFrame, path: String, partitionCol: String,
      statsCols: Seq[String]): Unit =
    write(df, path, Seq(partitionCol), statsCols)

  /** Multi-level variant: `partitionCols` produce nested Hive directories
    * (`day=.../src=...`), the canonical lake layout for (date, source)-
    * style data; a predicate on any prefix of the columns prunes.
    */
  def write(df: DataFrame, path: String, partitionCols: Seq[String],
      statsCols: Seq[String], batchId: Option[Long] = None,
      writerId: String = DefaultWriter): Unit = {
    val spark = df.sparkSession
    val fs = fsFor(spark, path)
    val old = latestManifest(fs, path)
    // per-writer replay guard (see [[append]]) — the streaming sink's
    // complete mode overwrites once per epoch, never twice
    if (batchId.exists(b =>
        old.exists(_.txns.get(writerId).exists(_ >= b)))) return
    val (staging, staged) = stage(spark, fs, path, df, partitionCols, statsCols)
    val oldDirs = old.map(allDirs).getOrElse(Set.empty)
    commitStaged(fs, path, staging, staged,
      oldDirs ++ staged.keySet, df.schema, old, batchId,
      fullOverwrite = true, bootstrapLayout = Some(partitionCols),
      writerId = writerId)
  }

  /** The columns any live entry of a snapshot carries footer bounds
    * for — what SQL-route writes (INSERT INTO/OVERWRITE, ReplaceData)
    * inherit as their stats harvest so a z-order-maintained lake never
    * silently loses file skipping to a statement that had no statsCols
    * knob to pass.
    */
  private[io] def statsColsOf(m: Option[Manifest]): Seq[String] =
    // numeric AND string bounds: a lake whose skipping discipline is
    // string-only (strStats with no numeric stats) must inherit too,
    // or every SQL write would silently degrade its file skipping
    m.map(_.files.valuesIterator.flatten
      .flatMap(e => e.stats.keysIterator ++ e.strStats.keysIterator)
      .toSeq.distinct.sorted).getOrElse(Nil)

  /** The effective stats harvest for an incremental/maintenance
    * commit: the caller's columns PLUS every column the snapshot
    * already carries bounds for (numeric or string), intersected with
    * the frame's fields. The lake's stats discipline is STICKY — no
    * write path (append, upsert, CDC fold, compaction) silently
    * degrades file skipping to unharvested files just because its
    * caller had no statsCols knob to pass. Harvest is a footer-time
    * metadata pass; carrying a column costs nothing at read.
    */
  private def stickyStats(m: Option[Manifest], statsCols: Seq[String],
      fields: Seq[String]): Seq[String] =
    ((statsCols ++ statsColsOf(m)) intersect fields).distinct

  /** Partition-scoped overwrite — SQL `INSERT OVERWRITE ... PARTITION
    * (k='v')` / `DataFrameWriterV2.overwrite(cond)`: directories
    * matching the partition-exact predicate are superseded, the staged
    * rows merge in, everything else carries over — ONE snapshot commit,
    * the standard backfill idiom. The predicate must compile through
    * the same exact three-valued evaluator `canDeleteWhere` uses (a
    * directory is uniformly true/false/null for it), and every staged
    * row must itself SATISFY the predicate — an overwrite must not
    * write outside the region it deletes (refused loudly before any
    * manifest change). Racing commits touching a superseded directory
    * conflict via the standard rebase check; a racing insert of a NEW
    * matching directory serializes as if it landed after this
    * overwrite.
    */
  private[io] def overwritePartitions(df: DataFrame, path: String,
      partitionCols: Seq[String],
      filters: Seq[org.apache.spark.sql.sources.Filter]): Unit = {
    val spark = df.sparkSession
    val fs = fsFor(spark, path)
    val old = latestManifest(fs, path).getOrElse(sys.error(
      s"cannot partition-overwrite the pre-protocol lake at $path: " +
        "adopt it first (any PartitionedLake write publishes a manifest)"))
    requireLayoutMatch(Some(old), partitionCols, "INSERT OVERWRITE")
    def dtOf(c: String) = old.schema.fields.find(_.name == c).map(_.dataType)
    val unclaimable = filters.filterNot(f =>
      f.references.forall(partitionCols.contains) &&
        LakeFilters.compile(f, dtOf).isDefined)
    if (unclaimable.nonEmpty) sys.error(
      s"partition-scoped INSERT OVERWRITE on $path requires a predicate " +
        s"over the partition column(s) ${partitionCols.mkString(", ")} " +
        s"that the exact evaluator can claim; got: " +
        s"${unclaimable.mkString(", ")} — for row-scoped rewrites use " +
        "MERGE INTO / UPDATE (the group-based rewrite) or the API upsert")
    val schema = evolvedSchema(old.schema, df.schema, "INSERT OVERWRITE")
    val preds = filters.map(f => LakeFilters.compile(f, dtOf).get)
    val parser = new LakeDirValues(partitionCols, old.schema)
    val matched = allDirs(old).filter(LakeFilters.dirMatches(preds, parser))
    val (staging, staged) = stage(spark, fs, path, df, partitionCols,
      (statsColsOf(Some(old)) intersect
        df.schema.fieldNames.toSeq).distinct)
    val offside = staged.keySet
      .filterNot(LakeFilters.dirMatches(preds, parser))
    if (offside.nonEmpty) {
      fs.delete(staging, true)
      sys.error(s"INSERT OVERWRITE on $path staged rows OUTSIDE the " +
        s"overwritten region (${offside.toSeq.sorted.mkString(", ")} do " +
        s"not satisfy ${filters.mkString(" AND ")}) — refusing: an " +
        "overwrite must not write where it does not delete")
    }
    commitStaged(fs, path, staging, staged, matched ++ staged.keySet,
      schema, Some(old), None)
  }

  /** Bootstrap an EMPTY lake with a declared schema and partition
    * layout — the `CREATE TABLE` primitive: publishes version 1 with
    * no files and a `meta:partition-cols=` layout declaration, so the
    * table is immediately SQL-insertable ([[append]]/INSERT INTO reads
    * the layout from the manifest). Fails loudly if anything already
    * lives at the path (a racing CREATE loses the version-1 publish
    * race and reports the same).
    */
  def createEmpty(spark: SparkSession, path: String, schema: StructType,
      partitionCols: Seq[String]): Unit =
    createEmpty(spark, path, schema, partitionCols, Nil)

  /** CREATE-with-constraints variant: `checks` are `(name, predicate
    * SQL)` ENFORCED CHECK constraints, validated against the declared
    * schema here (an empty table satisfies them trivially).
    */
  def createEmpty(spark: SparkSession, path: String, schema: StructType,
      partitionCols: Seq[String], checks: Seq[(String, String)]): Unit = {
    checks.foreach { case (n, sql) =>
      validateCheckPredicate(spark, schema, n, sql) }
    require(checks.map(_._1.toLowerCase(java.util.Locale.ROOT)).distinct
      .size == checks.size, "duplicate CHECK constraint name(s): " +
      checks.map(_._1).mkString(", "))
    require(partitionCols.nonEmpty,
      "createEmpty needs at least one partition column (a lake is " +
        "partitioned by construction)")
    val missing = partitionCols.filterNot(schema.fieldNames.contains)
    require(missing.isEmpty,
      s"partition column(s) ${missing.mkString(", ")} not in the schema")
    partitionCols.foreach { c =>
      val dt = schema(c).dataType
      require(dt != TimestampType && dt != TimestampNTZType,
        s"timestamp-typed partition column '$c' is not supported: " +
          "its directory form is timezone/format dependent; partition " +
          "on a string or date derivation instead")
    }
    val fs = fsFor(spark, path)
    val root = new Path(path)
    if (latestManifest(fs, path).isDefined ||
        (fs.exists(root) && fs.listStatus(root).nonEmpty))
      throw new LakeAlreadyExistsException(
        s"a lake (or other data) already exists at $path")
    // a racing CREATE can land between the check above and this publish:
    // the lost version-1 race IS "already exists", signaled with the
    // same dedicated type (SQL CREATE TABLE IF NOT EXISTS matches on the
    // TYPE — an earlier form classified by message substring, which
    // mislabeled unrelated publish failures as already-exists)
    val nullable = StructType(schema.fields.map(_.copy(nullable = true)))
    if (!tryPublishManifest(fs, path, Manifest(1L, nullable, Map.empty,
        layout = Some(partitionCols),
        columnIds = Some(assignColumnIds(None, nullable)),
        checks = checks)))
      throw new LakeAlreadyExistsException(
        s"a lake already exists at $path (a racing CREATE published " +
          "version 1 first)")
  }

  /** Append-only commit: stage `df` and publish a snapshot whose
    * directories carry the old files PLUS the staged ones — nothing is
    * superseded, so racing appends never conflict (each rebase merges
    * into the new head; N racing appends land as N consecutive
    * versions — the `INSERT INTO` semantics the SQL surface rides).
    * Contrast [[upsert]] (key-merge, needs a row identity) and
    * [[write]] (full-snapshot overwrite). Duplicate-row semantics are
    * the caller's: append twice, read twice the rows — exactly SQL
    * INSERT. Bootstraps an absent lake; adopts a pre-protocol one.
    * Schema evolution is additive under [[upsert]]'s exact rule (new
    * columns widen the snapshot schema; a column present in both sides
    * must keep its type).
    */
  def append(df: DataFrame, path: String, partitionCols: Seq[String],
      statsCols: Seq[String] = Nil, batchId: Option[Long] = None,
      writerId: String = DefaultWriter): Unit = {
    val spark = df.sparkSession
    val fs = fsFor(spark, path)
    // the replay guard ([[headFor]]) is what makes the DSv2 streaming
    // sink's append mode exactly-once under replay
    val old = headFor(spark, fs, path, partitionCols, batchId, writerId,
      "append") match {
      case Some(h) => h
      case None => return
    }
    if (old.isEmpty) requireBootstrapSafe(fs, path, partitionCols)
    val schema =
      old.fold(df.schema)(m => evolvedSchema(m.schema, df.schema, "append"))
    val (staging, staged) = stage(spark, fs, path, df, partitionCols,
      stickyStats(old, statsCols, df.schema.fieldNames.toSeq))
    commitStaged(fs, path, staging, staged, Set.empty, schema, old, batchId,
      appendOnly = true, bootstrapLayout = Some(partitionCols),
      writerId = writerId)
  }

  /** Rename a column — a MANIFEST-ONLY commit, zero data jobs at any
    * scale: the schema field is rebound to its STABLE ID under the new
    * name (the `meta:column-ids=` writer half; the reader shipped one
    * release earlier) and every live file entry is stamped with a
    * physical-name pin (`pn:<id>:<oldName>`) recording the column name
    * its parquet footers actually carry. Reads then resolve old files
    * EXACTLY — never by heuristic — through [[filesFrame]]'s per-pin
    * projection, new writes use the new name with no pin, and the pins
    * die with the files at the next rewrite ([[compact]] restores the
    * fully-native read path). Old snapshots are untouched: time travel
    * before the rename shows the old name, and [[changesBetween]]
    * aligns across it by id.
    *
    * Pin-stamping skips an entry when the old name is already pinned
    * to a DIFFERENT id there — that file was written while another
    * column owned the name (rename a->b, add a, rename a->c), so it
    * cannot contain THIS column at all and pinning would alias two ids
    * to one physical column. The same ownership logic shadows reads:
    * see [[filesFrame]].
    *
    * Refuses loudly: unknown/duplicate names, partition columns (their
    * name is baked into every directory path), live merge-on-read
    * deltas (sidecar files are name-only in the manifest, so their
    * physical names cannot be pinned — compact() first).
    *
    * The published manifest bumps the header minor to `.2`: a
    * pin-ignorant (by-name) reader would silently surface NULLS for
    * the renamed column off old files, so it must refuse at the header
    * gate instead. Lakes never renamed stay at their old header.
    */
  def renameColumn(spark: SparkSession, path: String,
      oldName: String, newName: String): Unit = {
    val fs = fsFor(spark, path)
    var attempts = 0
    while (true) {
      val m = latestManifest(fs, path).getOrElse(sys.error(
        s"cannot rename a column of the pre-protocol lake at $path: " +
          "adopt it first (any PartitionedLake write publishes a " +
          "manifest)"))
      require(m.schema.fieldNames.contains(oldName),
        s"cannot rename '$oldName' on $path: no such column " +
          s"(schema: ${m.schema.fieldNames.mkString(", ")})")
      val ids = m.columnIds.getOrElse(
        assignColumnIds(None, m.schema))
      require(!newName.startsWith(DroppedIdPrefix),
        s"cannot rename '$oldName' -> '$newName' on $path: the " +
          s"'$DroppedIdPrefix' prefix is reserved (column-id tombstones)")
      require(!ids.contains(newName),
        s"cannot rename '$oldName' -> '$newName' on $path: the name is " +
          "already taken")
      require(!layoutOf(m).exists(_.contains(oldName)),
        s"cannot rename partition column '$oldName' on $path: its name " +
          "is baked into every partition directory path; rewrite into a " +
          "new layout instead")
      require(m.deltas.isEmpty,
        s"cannot rename '$oldName' on $path while merge-on-read deltas " +
          "are live: delta sidecars are name-only in the manifest, so " +
          "their physical columns cannot be pinned — run " +
          "PartitionedLake.compact(spark, path) first")
      val id = ids(oldName)
      val schema = StructType(m.schema.fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f))
      val files = m.files.view.mapValues(_.map { e =>
        if (e.physNames.contains(id) ||
            e.physNames.exists { case (j, n) => j != id && n == oldName })
          e
        else e.copy(physNames = e.physNames + (id -> oldName))
      }).toMap
      val ok = tryPublishManifest(fs, path, m.copy(
        version = m.version + 1, schema = schema, files = files,
        columnIds = Some(ids - oldName + (newName -> id))))
      if (ok) return
      attempts += 1
      if (attempts > 5) sys.error(s"rename on $path lost the publish " +
        s"race $attempts times; giving up")
    }
  }

  /** Reserved prefix for column-id TOMBSTONES: dropping a column keeps
    * its id in `columnIds` under `#dropped-<id>` so the mapping's max
    * NEVER decreases — [[assignColumnIds]] allocates fresh ids above
    * the max, and a re-assigned dead id would make old files' pins
    * (`physNames`: dead-id -> physical name) resolve a NEW column to
    * the DEAD column's bytes. The reader shipped in round 15 carries
    * unknown entries untouched, so tombstones round-trip through every
    * commit; [[assignColumnIds]] and [[renameColumn]] refuse real
    * columns in this namespace (the two chokepoints where mapping
    * entries are born).
    */
  private[io] val DroppedIdPrefix = "#dropped-"
  private def droppedKey(id: Int): String = s"$DroppedIdPrefix$id"

  /** Drop a top-level column — a MANIFEST-ONLY commit: the field leaves
    * the snapshot schema, its id tombstones (see [[DroppedIdPrefix]]),
    * and every live file that may carry the column's bytes gets a
    * physical-name pin for the dead id, so a LATER column re-using the
    * name reads typed nulls from those files instead of the dead bytes
    * (the same shadow rule renames rely on — [[filesFrame]]'s
    * pin-signature groups). Zero data jobs; the pre-drop snapshot stays
    * time-travelable; [[compact]] rewrites the bytes away and clears
    * the pins. `ALTER TABLE ... DROP COLUMN` routes here.
    */
  def dropColumn(spark: SparkSession, path: String, name: String): Unit = {
    val fs = fsFor(spark, path)
    var attempts = 0
    while (true) {
      val m = latestManifest(fs, path).getOrElse(sys.error(
        s"cannot drop a column of the pre-protocol lake at $path: " +
          "adopt it first (any PartitionedLake write publishes a " +
          "manifest)"))
      require(m.schema.fieldNames.contains(name),
        s"cannot drop '$name' on $path: no such column " +
          s"(schema: ${m.schema.fieldNames.mkString(", ")})")
      require(!layoutOf(m).exists(_.contains(name)),
        s"cannot drop partition column '$name' on $path: its name is " +
          "baked into every partition directory path; rewrite into a " +
          "new layout instead")
      val partCols = layoutOf(m).getOrElse(Seq.empty).toSet
      require(m.schema.fieldNames.exists(f =>
          f != name && !partCols.contains(f)),
        s"cannot drop '$name' on $path: it is the last data column " +
          "(a lake of only partition values has no file contents)")
      require(m.deltas.isEmpty,
        s"cannot drop '$name' on $path while merge-on-read deltas are " +
          "live: delta sidecars are name-only in the manifest, so " +
          "their physical columns cannot be pinned — run " +
          "PartitionedLake.compact(spark, path) first")
      val ids = m.columnIds.getOrElse(assignColumnIds(None, m.schema))
      val id = ids(name)
      val schema = StructType(m.schema.fields.filterNot(_.name == name))
      // pin condition mirrors renameColumn: skip entries already
      // pinned for this id, and entries where the physical name is
      // OWNED by another id's pin (the file provably predates this
      // column entirely — the existing shadow rule already nulls it)
      val files = m.files.view.mapValues(_.map { e =>
        if (e.physNames.contains(id) ||
            e.physNames.exists { case (j, n) => j != id && n == name })
          e
        else e.copy(physNames = e.physNames + (id -> name))
      }).toMap
      val ok = tryPublishManifest(fs, path, m.copy(
        version = m.version + 1, schema = schema, files = files,
        columnIds = Some(ids - name + (droppedKey(id) -> id))))
      if (ok) return
      attempts += 1
      if (attempts > 5) sys.error(s"dropColumn on $path lost the " +
        s"publish race $attempts times; giving up")
    }
  }

  /** The widening promotions [[widenColumnType]] accepts — exactly the
    * set Spark's parquet readers (vectorized AND row-based) read
    * natively from narrower physical files, probed per promotion on
    * this engine version: the integer ladder, float→double,
    * int-family→double, decimal precision growth at the same scale,
    * int-family/long→decimal that provably fits, and
    * date→timestamp_ntz. Everything lossy or layout-changing (long→int,
    * double→float, scale changes, string↔anything) is NOT here and
    * refuses — old files would read wrong or not at all.
    */
  private[io] def isWideningPromotion(from: DataType, to: DataType): Boolean =
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (d1: DecimalType, d2: DecimalType) =>
        d2.scale == d1.scale && d2.precision > d1.precision
      case (ByteType | ShortType | IntegerType, d: DecimalType) =>
        d.scale == 0 && d.precision >= 10
      case (LongType, d: DecimalType) => d.scale == 0 && d.precision >= 20
      case (DateType, TimestampNTZType) => true
      case _ => false
    }

  /** Widen a top-level column's type — a MANIFEST-ONLY commit: files
    * are untouched and every reader (the V1 format, the native DSv2
    * batch, MOR sidecar scans, pin-group scans) reads the narrower
    * physical values under the wider requested schema, natively in
    * parquet. Only promotions in [[isWideningPromotion]] are accepted;
    * anything else refuses loudly. Partition columns refuse (their
    * values parse from directory names under the schema type — a
    * widened parse is safe, but the claim evaluator, SPJ partition
    * values, and dynamic-overwrite path rendering all re-derive from
    * it; rewrite into a new layout instead). After widening a
    * merge-on-read value/key column, subsequent CDC folds must carry
    * the NEW type (the existing exact-type guard enforces it loudly).
    * `ALTER TABLE ... ALTER COLUMN ... TYPE` routes here.
    */
  def widenColumnType(spark: SparkSession, path: String, name: String,
      to: DataType): Unit = {
    val fs = fsFor(spark, path)
    var attempts = 0
    while (true) {
      val m = latestManifest(fs, path).getOrElse(sys.error(
        s"cannot widen a column of the pre-protocol lake at $path: " +
          "adopt it first (any PartitionedLake write publishes a " +
          "manifest)"))
      require(m.schema.fieldNames.contains(name),
        s"cannot widen '$name' on $path: no such column " +
          s"(schema: ${m.schema.fieldNames.mkString(", ")})")
      require(!layoutOf(m).exists(_.contains(name)),
        s"cannot widen partition column '$name' on $path: partition " +
          "values parse from directory names; rewrite into a new " +
          "layout instead")
      val from = m.schema(name).dataType
      if (from == to) return // idempotent no-op, no version churn
      require(isWideningPromotion(from, to),
        s"cannot change '$name' on $path from $from to $to: only " +
          "widening promotions old files read natively are supported " +
          "(byte/short/int->long, float->double, int-family->double, " +
          "decimal precision growth at the same scale, " +
          "int-family/long->fitting decimal, date->timestamp_ntz) — " +
          "anything else needs a rewrite into a new lake")
      val schema = StructType(m.schema.fields.map(f =>
        if (f.name == name) f.copy(dataType = to) else f))
      val ok = tryPublishManifest(fs, path,
        m.copy(version = m.version + 1, schema = schema))
      if (ok) return
      attempts += 1
      if (attempts > 5) sys.error(s"widenColumnType on $path lost the " +
        s"publish race $attempts times; giving up")
    }
  }

  /** Add nullable columns — a MANIFEST-ONLY commit publishing the
    * widened schema with fresh stable ids; files are untouched and old
    * ones read typed nulls for the new columns (the same additive
    * evolution [[upsert]]/[[append]] already do implicitly — this is
    * the explicit `ALTER TABLE ... ADD COLUMNS` form, usable before
    * any write carries the column).
    */
  /** Spark's column-default metadata keys (the engine's OWN read/write
    * machinery consumes these — `CURRENT_DEFAULT` fills unspecified
    * INSERT columns at analysis, `EXISTS_DEFAULT` is what the parquet
    * readers, vectorized and row-based, surface for files that PREDATE
    * the column — verified on this engine version for both the
    * schema'd v1 read and the native DSv2 factory).
    */
  private[io] val CurrentDefaultKey = org.apache.spark.sql.catalyst.util
    .ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY
  private[io] val ExistsDefaultKey = org.apache.spark.sql.catalyst.util
    .ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY

  /** The value a file PROVABLY predating `f` surfaces: the column's
    * existence default when one is pinned, else a typed null — what
    * the parquet readers do for a missing column, applied wherever the
    * engine synthesizes the column itself (the pin-group shadow rule).
    */
  private[io] def existsDefaultColumn(f: StructField)
      : org.apache.spark.sql.Column =
    if (f.metadata.contains(ExistsDefaultKey))
      org.apache.spark.sql.functions
        .expr(f.metadata.getString(ExistsDefaultKey)).cast(f.dataType)
    else lit(null).cast(f.dataType)

  /** SET / DROP a column's CURRENT default — a MANIFEST-ONLY commit
    * rewriting the field's `CURRENT_DEFAULT` metadata (None removes
    * it). The EXISTENCE default is deliberately untouched: it was
    * pinned when the column was added and governs what files predating
    * the column read — changing it retroactively would rewrite the
    * visible history of every old file (Delta/Iceberg draw the same
    * line). `ALTER TABLE ... ALTER COLUMN ... SET/DROP DEFAULT` routes
    * here; the new default is validated (parse + fold + cast to the
    * column type) at ALTER time, not at some later INSERT.
    */
  def setColumnCurrentDefault(spark: SparkSession, path: String,
      name: String, sqlText: Option[String]): Unit = {
    val fs = fsFor(spark, path)
    var attempts = 0
    while (true) {
      val m = latestManifest(fs, path).getOrElse(sys.error(
        s"cannot alter a column default of the pre-protocol lake at " +
          s"$path: adopt it first (any PartitionedLake write publishes " +
          "a manifest)"))
      require(m.schema.fieldNames.contains(name),
        s"cannot alter the default of '$name' on $path: no such column " +
          s"(schema: ${m.schema.fieldNames.mkString(", ")})")
      sqlText.foreach(s =>
        org.apache.spark.sql.catalyst.util.ResolveDefaultColumns.analyze(
          name, m.schema(name).dataType, s,
          "ALTER TABLE ... ALTER COLUMN ... SET DEFAULT"))
      val schema = StructType(m.schema.fields.map { f =>
        if (f.name != name) f
        else {
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
          sqlText match {
            case Some(s) => mb.putString(CurrentDefaultKey, s)
            case None => mb.remove(CurrentDefaultKey)
          }
          f.copy(metadata = mb.build())
        }
      })
      if (schema == m.schema) return // idempotent no-op, no version churn
      val ok = tryPublishManifest(fs, path,
        m.copy(version = m.version + 1, schema = schema))
      if (ok) return
      attempts += 1
      if (attempts > 5) sys.error(s"setColumnCurrentDefault on $path " +
        s"lost the publish race $attempts times; giving up")
    }
  }

  /** Parse + resolve a CHECK predicate against `schema` — every way a
    * constraint can be malformed (parse error, unknown column,
    * unresolvable function, non-boolean) refuses HERE, at declaration,
    * not at some later write.
    */
  private[io] def validateCheckPredicate(spark: SparkSession,
      schema: StructType, name: String, sql: String): Unit = {
    require(name.trim.nonEmpty && sql.trim.nonEmpty,
      "a CHECK constraint needs a name and a predicate")
    val e = try spark.sessionState.sqlParser.parseExpression(sql)
      catch { case t: Throwable => sys.error(
        s"CHECK constraint '$name' does not parse: ${t.getMessage}") }
    val unknown = e.references.map(_.name).toSeq.distinct
      .filterNot(schema.fieldNames.contains)
    if (unknown.nonEmpty) sys.error(
      s"CHECK constraint '$name' references unknown column(s) " +
        s"${unknown.mkString(", ")} (schema: " +
        s"${schema.fieldNames.mkString(", ")})")
    val empty = spark.createDataFrame(
      new java.util.ArrayList[Row](), schema)
    try empty.filter(org.apache.spark.sql.functions.expr(sql)
        .cast(org.apache.spark.sql.types.BooleanType))
      .queryExecution.analyzed
    catch { case t: Throwable => sys.error(
      s"CHECK constraint '$name' ($sql) does not resolve against the " +
        s"table schema: ${t.getMessage}") }
  }

  /** Per-row CHECK enforcement on a write — the API-path counterpart
    * of Spark's own `CheckInvariant` (which covers the SQL surface
    * through [[GraftLakeTable]]'s `constraints()`): a violating row
    * fails the staging job loudly via `raise_error`, so nothing
    * commits. SQL CHECK semantics: a NULL predicate passes. A frame
    * that OMITS a referenced column (additive-evolution writes) is
    * evaluated against the column's existence default when one is
    * pinned — that is the value the written file will READ — and
    * refuses otherwise (an unevaluable constraint must never silently
    * skip). The guard is one codegen'd predicate per row inside the
    * write job: no extra pass, no driver action.
    */
  private[io] def applyChecks(spark: SparkSession, df: DataFrame,
      schema: StructType, checks: Seq[(String, String)]): DataFrame = {
    if (checks.isEmpty) return df
    val parser = spark.sessionState.sqlParser
    val refs = checks.flatMap { case (_, sql) =>
      parser.parseExpression(sql).references.map(_.name).toSeq }.distinct
    val present = df.columns.toSet
    val aug = refs.filterNot(present.contains).foldLeft(df) { (a, c) =>
      val f = schema.fields.find(_.name == c).getOrElse(sys.error(
        s"a CHECK constraint references column '$c' absent from both " +
          "the write and the table schema — drop the constraint"))
      if (!f.metadata.contains(ExistsDefaultKey)) sys.error(
        s"cannot enforce this lake's CHECK constraints: the write " +
          s"omits column '$c' (no default) that a constraint " +
          "references — carry the column explicitly " +
          s"(lit(null).cast(...).as(\"$c\")) or drop the constraint")
      a.withColumn(c, existsDefaultColumn(f))
    }
    // merge-on-read 'D' tombstones are deletion MARKERS (identity +
    // nulls), not rows — only 'U' post-images carry row values a CHECK
    // can judge
    val tombstone =
      if (aug.columns.contains(MorOpCol)) col(MorOpCol) === lit("D")
      else lit(false)
    val guarded = checks.foldLeft(aug) { case (a, (n, sql)) =>
      val pass = coalesce(org.apache.spark.sql.functions.expr(sql)
        .cast(org.apache.spark.sql.types.BooleanType), lit(true))
      a.filter(when(tombstone || pass, lit(true)).otherwise(
        org.apache.spark.sql.functions.raise_error(lit(
          s"graft lake CHECK constraint '$n' violated: ($sql) is " +
            "false for a row this write would commit"))
          .cast(org.apache.spark.sql.types.BooleanType)))
    }
    guarded.select(df.columns.map(col).toIndexedSeq: _*)
  }

  /** Declare an ENFORCED CHECK constraint — a manifest-only commit
    * appending to [[Manifest.checks]] after (1) the predicate
    * validates against the schema and (2) EXISTING data is scanned for
    * violations (`skipDataScan = true` when the engine already ran
    * that scan — the SQL `ALTER TABLE ... ADD CONSTRAINT` path
    * validates through `AddCheckConstraintExec` before calling the
    * catalog). From this commit on, every write path refuses violating
    * rows ([[applyChecks]] + Spark's `CheckInvariant` on the SQL
    * surface).
    */
  def addCheckConstraint(spark: SparkSession, path: String, name: String,
      sql: String, skipDataScan: Boolean = false): Unit = {
    val fs = fsFor(spark, path)
    var attempts = 0
    while (true) {
      val m = latestManifest(fs, path).getOrElse(sys.error(
        s"cannot add a CHECK constraint to the pre-protocol lake at " +
          s"$path: adopt it first (any PartitionedLake write publishes " +
          "a manifest)"))
      if (m.checks.exists(_._1.equalsIgnoreCase(name))) sys.error(
        s"CHECK constraint '$name' already exists on $path — drop it " +
          "first (constraint names are case-insensitive)")
      validateCheckPredicate(spark, m.schema, name, sql)
      if (!skipDataScan) {
        val bad = frameFor(spark, path, m).filter(
          !coalesce(org.apache.spark.sql.functions.expr(sql)
            .cast(org.apache.spark.sql.types.BooleanType), lit(true)))
          .limit(1).count()
        if (bad > 0) sys.error(
          s"cannot add CHECK constraint '$name' on $path: existing " +
            s"data violates ($sql) — fix the rows first (the " +
            "constraint would otherwise claim an invariant the table " +
            "does not hold)")
      }
      val ok = tryPublishManifest(fs, path, m.copy(
        version = m.version + 1, checks = m.checks :+ (name -> sql)))
      if (ok) return
      attempts += 1
      if (attempts > 5) sys.error(s"addCheckConstraint on $path lost " +
        s"the publish race $attempts times; giving up")
    }
  }

  /** Drop a CHECK constraint by name — manifest-only; unknown names
    * refuse (listing what exists) unless `ifExists`.
    */
  def dropCheckConstraint(spark: SparkSession, path: String, name: String,
      ifExists: Boolean = false): Unit = {
    val fs = fsFor(spark, path)
    var attempts = 0
    while (true) {
      val m = latestManifest(fs, path).getOrElse(sys.error(
        s"no graft lake manifest at $path"))
      if (!m.checks.exists(_._1.equalsIgnoreCase(name))) {
        if (ifExists) return
        sys.error(s"no CHECK constraint '$name' on $path (constraints: " +
          s"${if (m.checks.isEmpty) "none"
             else m.checks.map(_._1).mkString(", ")})")
      }
      val ok = tryPublishManifest(fs, path, m.copy(
        version = m.version + 1,
        checks = m.checks.filterNot(_._1.equalsIgnoreCase(name))))
      if (ok) return
      attempts += 1
      if (attempts > 5) sys.error(s"dropCheckConstraint on $path lost " +
        s"the publish race $attempts times; giving up")
    }
  }

  def addColumns(spark: SparkSession, path: String,
      newFields: Seq[StructField]): Unit = {
    require(newFields.nonEmpty, "addColumns needs at least one column")
    val fs = fsFor(spark, path)
    var attempts = 0
    while (true) {
      val m = latestManifest(fs, path).getOrElse(sys.error(
        s"cannot add columns to the pre-protocol lake at $path: adopt " +
          "it first (any PartitionedLake write publishes a manifest)"))
      val ids = m.columnIds.getOrElse(assignColumnIds(None, m.schema))
      val taken = newFields.map(_.name)
        .filter(n => m.schema.fieldNames.contains(n) || ids.contains(n))
      require(taken.isEmpty,
        s"cannot add column(s) ${taken.mkString(", ")} to $path: " +
          "already present")
      val dup = newFields.groupBy(_.name).filter(_._2.size > 1).keys
      require(dup.isEmpty, s"duplicate new column(s): ${dup.mkString(", ")}")
      val schema = StructType(m.schema.fields ++
        newFields.map(_.copy(nullable = true)))
      val ok = tryPublishManifest(fs, path, m.copy(
        version = m.version + 1, schema = schema,
        columnIds = Some(assignColumnIds(Some(ids), schema))))
      if (ok) return
      attempts += 1
      if (attempts > 5) sys.error(s"addColumns on $path lost the " +
        s"publish race $attempts times; giving up")
    }
  }

  /** Retire whole partition directories through the snapshot protocol —
    * the primitive under SQL `DELETE FROM lake WHERE <partition
    * predicate>` ([[GraftLakeTable]]'s `SupportsDelete`): publish a new
    * version whose manifest no longer references `dirs`' files OR their
    * merge-on-read deltas (a retired partition's every row is gone,
    * deltas included). Nothing is deleted from disk — the old snapshot
    * stays time-travelable and the files live until [[vacuum]], exactly
    * like [[cdcSink]]'s emptied-partition retirement. The declared
    * layout carries through [[commitStaged]]'s empty-snapshot rule, so
    * a fully-emptied lake remains insertable.
    *
    * `old` is the head manifest the caller derived `dirs` from; racing
    * commits that touch a retired directory conflict loudly through the
    * standard rebase check (the retired set IS the replaced set), while
    * disjoint commits rebase cleanly. A no-match delete publishes
    * NOTHING (no empty version churn — SQL DELETE matching zero rows is
    * a read-only statement here).
    */
  private[io] def retireDirectories(spark: SparkSession, path: String,
      dirs: Set[String], old: Manifest): Unit = {
    if (dirs.isEmpty) return
    val unknown = dirs.diff(allDirs(old))
    require(unknown.isEmpty,
      s"cannot retire directories not in manifest v${old.version}: " +
        unknown.mkString(", "))
    val fs = fsFor(spark, path)
    // no staged files: the commit only de-references. The staging path
    // is never created (move over an empty map is a no-op; the delete
    // of a nonexistent staging dir is too).
    val staging = new Path(path, s"$StagingDirName/${UUID.randomUUID()}")
    commitStaged(fs, path, staging, Map.empty, dirs, old.schema, Some(old),
      None)
  }

  /** The ReplaceData commit (SQL UPDATE / MERGE INTO / row-level
    * DELETE — [[LakeRowLevelOperation]]): scanned directories become
    * exactly their staged rewrite, staged directories the scan never
    * read (a MERGE's NOT MATCHED inserts) merge into their live lists,
    * and everything else carries over. One snapshot commit on the same
    * optimistic-rebase protocol as every other writer.
    */
  private[io] def commitReplaceData(spark: SparkSession, path: String,
      staging: Path, staged: Map[String, Seq[FileEntry]],
      replaced: Set[String], old: Manifest): Unit = {
    // a statement that matched nothing (runtime group filtering pruned
    // every directory, nothing staged) publishes NOTHING — same rule as
    // the zero-match metadata DELETE: no empty version churn
    if (staged.isEmpty && replaced.isEmpty) return
    commitStaged(fsFor(spark, path), path, staging, staged, replaced,
      old.schema, Some(old), None, replaceAndAdd = true)
  }

  /** Read the lake at its latest published snapshot. The manifest is
    * resolved ONCE, eagerly, and the returned frame is pinned to that
    * snapshot's (immutable) files: collecting it after a later commit
    * still yields the snapshot that was current at `read` time. Falls
    * back to a plain recursive read for a path without a manifest
    * (pre-protocol layout).
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val fs = fsFor(spark, path)
    latestManifest(fs, path) match {
      case None => spark.read.parquet(path)
      case Some(m) => frameFor(spark, path, m)
    }
  }

  /** Scan of an explicit (dir -> files) slice under the snapshot schema.
    * explicit file list + basePath: the file index still knows each
    * file's partition value, so partition pruning is intact. The scan
    * surfaces partition columns last regardless of the provided schema,
    * so restore the snapshot's column order.
    */
  private def filesFrame(spark: SparkSession, path: String,
      schema: StructType, files: Map[String, Seq[FileEntry]],
      ids: Map[String, Int] = Map.empty): DataFrame = {
    val all = files.toSeq.flatMap { case (d, entries) =>
      entries.map(e => (d, e))
    }
    if (all.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    if (all.forall(_._2.physNames.isEmpty))
      // the one-scan fast path every never-renamed lake takes
      return spark.read.schema(schema).option("basePath", path)
        .parquet(all.map { case (d, e) => s"$path/$d/${e.name}" }: _*)
        .select(schema.fieldNames.map(col).toIndexedSeq: _*)
    // PIN-SIGNATURE GROUPS (column renames — see [[renameColumn]]):
    // files sharing a physical-name pin map scan together, each group
    // requesting its PINNED physical columns and projecting them back
    // to the current names. A field with no pin whose current name is
    // physically OWNED by another id's pin in this group (rename a->b
    // then add a: the old file's 'a' bytes belong to b) reads a typed
    // null — the file provably predates the field. Group count is
    // bounded by renames-since-last-rewrite, so this stays a handful
    // of scans unioned; compact() clears every pin and restores the
    // fast path above.
    val missing = schema.fieldNames.filterNot(ids.contains)
    require(missing.isEmpty,
      s"lake at $path has physical-name pins but no column id for " +
        s"${missing.mkString(", ")} — the manifest is inconsistent " +
        "(renames always publish a full meta:column-ids mapping)")
    val groups = all.groupBy(_._2.physNames)
    groups.toSeq.map { case (pins, pairs) =>
      val partSet = colsOfDir(pairs.head._1).toSet
      val owned = pins.map { case (i, n) => n -> i }
      val resolved = schema.fields.toSeq.map { f =>
        if (partSet.contains(f.name)) (f, Some(f.name))
        else pins.get(ids(f.name)) match {
          case Some(phys) => (f, Some(phys))
          case None if owned.contains(f.name) => (f, None) // shadowed
          case None => (f, Some(f.name))
        }
      }
      // field METADATA rides into the read schema: a column added with
      // a DEFAULT keeps its existence default in pin-group scans too
      // (files missing the physical column surface the default, same
      // as the fast path); a SHADOWED field (the file provably
      // predates it) synthesizes the same value the reader would
      val readSchema = StructType(resolved.collect {
        case (f, Some(phys)) if !partSet.contains(f.name) =>
          StructField(phys, f.dataType, nullable = true, f.metadata)
      } ++ schema.fields.filter(f => partSet.contains(f.name)))
      spark.read.schema(readSchema).option("basePath", path)
        .parquet(pairs.map { case (d, e) => s"$path/$d/${e.name}" }: _*)
        .select(resolved.map {
          case (f, Some(phys)) => col(phys).as(f.name)
          case (f, None) => existsDefaultColumn(f).as(f.name)
        }.toIndexedSeq: _*)
    }.reduce(_.unionByName(_))
  }

  /** Project `df` onto `schema`'s columns in order, padding columns it
    * lacks with typed nulls — the one null-padding alignment used by
    * additive evolution everywhere (upsert's union sides, change-feed
    * pre-images, the streaming source's fixed-at-start schema).
    */
  private[graft] def alignTo(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.fieldNames.map { c =>
      if (df.columns.contains(c)) col(c)
      else lit(null).cast(schema(c).dataType).as(c)
    }.toIndexedSeq: _*)

  /** The latest snapshot's schema from manifest metadata alone (None
    * for a manifest-less path) — what schema resolution should cost,
    * instead of building a whole read plan to throw away.
    */
  def snapshotSchema(spark: SparkSession, path: String): Option[StructType] =
    latestManifest(fsFor(spark, path), path).map(_.schema)

  /** Partition columns of a manifest, read off any directory key (the
    * dir-name prefixes Spark wrote, one per nesting level).
    */
  private[io] def partitionColsOf(m: Manifest): Seq[String] =
    colsOfDir(allDirs(m).head)

  private def colsOfDir(dir: String): Seq[String] =
    dir.split('/').toSeq.map(level =>
      ExternalCatalogUtils.unescapePathName(level.takeWhile(_ != '=')))

  /** The partition-column layout however the snapshot knows it:
    * directory names when any exist (authoritative — they ARE the
    * physical layout), the declared `meta:partition-cols=` header for
    * empty snapshots (CREATE TABLE bootstraps, fully-emptied lakes),
    * None for an empty pre-round-14 manifest.
    */
  private[io] def layoutOf(m: Manifest): Option[Seq[String]] =
    if (allDirs(m).nonEmpty) Some(partitionColsOf(m)) else m.layout

  /** Every incremental writer (append/upsert/CDC sinks) declares its
    * partition columns per call — they must MATCH the lake's layout,
    * or the commit would mix two physical layouts in one manifest
    * (directory-value parsing and pruning both assume one).
    */
  private def requireLayoutMatch(m: Option[Manifest],
      partitionCols: Seq[String], what: String): Unit =
    m.flatMap(layoutOf).foreach { existing =>
      require(existing == partitionCols,
        s"$what partition layout (${partitionCols.mkString(", ")}) does " +
          s"not match the lake's (${existing.mkString(", ")})")
    }

  /** A delta log row's schema: the snapshot's columns plus [[MorOpCol]]. */
  private def logSchemaOf(m: Manifest): StructType =
    StructType(m.schema.fields :+ StructField(MorOpCol,
      org.apache.spark.sql.types.StringType))

  /** Scan of a manifest's merge-on-read delta sidecars, normalized to
    * the snapshot column order plus [[MorOpCol]] (partition values come
    * from the directory structure via basePath, exactly like data files).
    */
  private def deltaScan(spark: SparkSession, path: String,
      m: Manifest): DataFrame = {
    val deltaFiles = m.deltas.toSeq.flatMap { case (d, names) =>
      names.map(n => s"$path/$d/$n")
    }
    val outOrder = m.schema.fieldNames :+ MorOpCol
    val fullSchema = logSchemaOf(m)
    if (deltaFiles.isEmpty)
      return spark.createDataFrame(new java.util.ArrayList[Row](), fullSchema)
    // the FULL schema (partition columns included), exactly like
    // [[filesFrame]]: declared partition columns pin the directory
    // values to the snapshot types. Omitting them would let Spark
    // INFER types from dir names — a string partition value like
    // '07' would surface as int 7, diverge from the base scan under
    // frameFor's unionByName, and poison every MOR read and the next
    // compact()'s partition-path round-trip.
    spark.read.schema(fullSchema).option("basePath", path)
      .parquet(deltaFiles: _*)
      .select(outOrder.map(col).toIndexedSeq: _*)
  }

  /** The snapshot a manifest describes, with merge-on-read deltas
    * applied: partitions without deltas scan verbatim; for partitions
    * with deltas, base rows whose `(partition tuple, key)` identity
    * appears in the delta are superseded (anti-join) and the delta's 'U'
    * post-images are unioned in. The anti-join shuffles only the DIRTY
    * partitions' rows; with [[compact]] run routinely the delta side is
    * small and AQE broadcasts it. Deletes never rewrite base files —
    * that is the merge-on-read contract ([[cdcSinkMergeOnRead]]).
    */
  private[io] def frameFor(spark: SparkSession, path: String,
      m: Manifest): DataFrame = {
    if (m.deltas.isEmpty)
      return filesFrame(spark, path, m.schema, m.files,
        m.columnIds.getOrElse(Map.empty))
    val key = m.mor.getOrElse(sys.error(
      s"manifest v${m.version} lists deltas but no mor key"))
    val partitionCols = partitionColsOf(m)
    val mids = m.columnIds.getOrElse(Map.empty)
    val clean = filesFrame(spark, path, m.schema,
      m.files.view.filterKeys(d => !m.deltas.contains(d)).toMap, mids)
    val dirty = filesFrame(spark, path, m.schema,
      m.files.view.filterKeys(m.deltas.contains).toMap, mids)
    val delta = deltaScan(spark, path, m)
    val ident = partitionCols :+ key
    val identCond = ident.map(c => dirty(c) <=> delta(c)).reduce(_ && _)
    val survivors = dirty.join(
      delta.select(ident.map(c => delta(c)).toIndexedSeq: _*),
      identCond, "left_anti")
    val postImages = delta.filter(col(MorOpCol) === "U").drop(MorOpCol)
    survivors.unionByName(postImages)
      .select(m.schema.fieldNames.map(col).toIndexedSeq: _*)
      .unionByName(clean)
  }

  /** Range scan with manifest-level FILE SKIPPING: rows of the latest
    * snapshot where `statsCol BETWEEN lo AND hi`, reading only the files
    * whose committed footer bounds intersect the range (files without
    * bounds for the column are conservatively read). This is the lake
    * half of the z-order story (q133): a z-value-clustered table written
    * with `statsCols = Seq("zval")` answers 2-D box predicates from a
    * handful of files, and the skip decision costs ZERO file-footer
    * reads at query time — the bounds were harvested once at commit.
    * The residual predicate is always applied, so results are exact
    * regardless of how coarse the bounds are.
    */
  def readRange(spark: SparkSession, path: String, statsCol: String,
      lo: Double, hi: Double): DataFrame =
    readBox(spark, path, Map(statsCol -> (lo, hi)))

  /** Multi-column box scan — the faithful z-order consumer. A 2-D box
    * predicate is NOT a contiguous z-value range (it is a union of z
    * segments), so real layouts skip on the ORIGINAL columns' per-file
    * bounds: z-order clustering makes each file a small rectangle in
    * (x, y) space, and the box intersects few rectangles. Every bound
    * must intersect for a file to be read; any column without committed
    * stats in a file keeps that file (conservative). Exact via the
    * residual conjunction.
    */
  def readBox(spark: SparkSession, path: String,
      bounds: Map[String, (Double, Double)]): DataFrame = {
    require(bounds.nonEmpty, "readBox needs at least one column bound")
    val fs = fsFor(spark, path)
    val residual = bounds.map { case (c, (lo, hi)) =>
      col(c) >= lit(lo) && col(c) <= lit(hi)
    }.reduce(_ && _)
    latestManifest(fs, path) match {
      case None => spark.read.parquet(path).filter(residual)
      case Some(m) =>
        // bounds live under the PHYSICAL (write-time) column name: a
        // pinned entry's stats for current column c sit under its pin;
        // an entry where c's bytes are owned by ANOTHER id's pin (the
        // rename-then-reuse-the-name shape) has no usable bounds for c
        // — conservatively read it (the residual keeps exactness)
        val mids = m.columnIds.getOrElse(Map.empty)
        def boundsOf(e: FileEntry, c: String): Option[(Double, Double)] = {
          val id = mids.get(c)
          id.flatMap(e.physNames.get) match {
            case Some(phys) => e.stats.get(phys)
            case None if e.physNames.values.exists(_ == c) => None
            case None => e.stats.get(c)
          }
        }
        val pruned = m.files.map { case (d, entries) =>
          d -> entries.filter(e => bounds.forall { case (c, (lo, hi)) =>
            boundsOf(e, c).forall { case (mn, mx) => mx >= lo && mn <= hi }
          })
        }.filter(_._2.nonEmpty)
        frameFor(spark, path, m.copy(files = pruned)).filter(residual)
    }
  }

  /** Published snapshot versions still resolvable on this lake (ascending;
    * vacuumed versions are gone). Metadata-only: one directory listing.
    */
  def snapshots(spark: SparkSession, path: String): Seq[Long] =
    listVersions(fsFor(spark, path), path).sorted

  /** One row per RESOLVABLE snapshot, newest last — the
    * `DESCRIBE HISTORY` analogue, answered from metadata alone:
    * version, publish time (the manifest file's mtime — the rename
    * that IS the commit point, same clock TIMESTAMP AS OF resolves
    * against), partition/file/live-delta counts, exact row and byte
    * totals where the manifest knows them (null under exactly
    * [[rowCount]]'s degrade contract — never a guess), column count,
    * and how many partitions CHANGED vs the predecessor (null for the
    * oldest retained version: its predecessor may be vacuumed, and
    * "changed vs nothing" would misreport a bootstrap). Driver-side by
    * design — the audit table is versions x a few counters — and
    * bounded by [[vacuum]]'s retention window; consecutive versions
    * share almost all v2 leaves through one read cache.
    */
  def history(spark: SparkSession, path: String): DataFrame =
    historyFrom(spark, path, historyListing(spark, path))

  /** The (version, publish mtime) listing [[historyFrom]] consumes —
    * exposed so the SQL `#history` table can resolve it ONCE at load
    * and reuse it at scan, instead of paying a second `_manifest/`
    * listing per query (at the sharded design point that directory
    * also holds every live leaf file).
    */
  private[io] def historyListing(spark: SparkSession,
      path: String): Seq[(Long, Long)] =
    listVersionsWithMtimes(fsFor(spark, path), path)

  /** [[history]] body over an already-resolved listing. */
  private[io] def historyFrom(spark: SparkSession, path: String,
      listing: Seq[(Long, Long)]): DataFrame = {
    val fs = fsFor(spark, path)
    // ONE directory listing carries both names and mtimes: a
    // per-version getFileStatus would be N+1 round trips and could
    // throw on a version vacuumed between listing and stat
    val listed = listing.sortBy(_._1)
    val leafCache =
      scala.collection.concurrent.TrieMap.empty[String, Seq[String]]
    // a vacuum racing this call can reclaim a listed version before its
    // read: skip it (the retention window moved) rather than failing
    // the whole audit
    val ms = listed.flatMap { case (v, mtime) =>
      try Some(readManifest(fs, path, v, leafCache) -> mtime)
      catch { case _: java.io.FileNotFoundException => None }
    }
    val rows = ms.zipWithIndex.map { case ((m, mtime), i) =>
      // changed-vs-predecessor only when the IMMEDIATE predecessor was
      // itself readable — a vacuumed-away gap reports null, same as
      // the window edge
      val changed: Any =
        if (i == 0 || ms(i - 1)._1.version != m.version - 1) null
        else changedDirs(Some(ms(i - 1)._1), m).size
      Row(m.version, new java.sql.Timestamp(mtime),
        allDirs(m).size, m.files.valuesIterator.map(_.size).sum,
        m.deltas.valuesIterator.map(_.size).sum,
        metadataRowCount(m).map(Long.box).orNull,
        metadataSizeBytes(m).map(Long.box).orNull,
        m.schema.fields.length, changed)
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      historySchema)
  }

  /** [[history]]'s row shape — shared with the SQL metadata table
    * (`#history`, a [[GraftLakeMetaTable]]) so the two surfaces cannot
    * drift.
    */
  private[io] val historySchema: StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("committed_at", TimestampType, nullable = false),
      StructField("n_partitions", IntegerType, nullable = false),
      StructField("n_files", IntegerType, nullable = false),
      StructField("n_live_deltas", IntegerType, nullable = false),
      StructField("n_rows", LongType, nullable = true),
      StructField("n_bytes", LongType, nullable = true),
      StructField("n_columns", IntegerType, nullable = false),
      StructField("changed_partitions", IntegerType, nullable = true)))
  }

  /** The latest published version, probing FORWARD from a last-known
    * version instead of listing `_manifest/`. At the sharded design
    * point that directory also holds every live leaf file, so a
    * per-trigger full listing (the streaming source polls this every
    * trigger) costs O(leaves + versions); the probe costs O(new
    * versions) existence checks — normally ONE.
    *
    * Correct because published versions are CONTIGUOUS (optimistic
    * concurrency arbitrates exactly version N+1) and [[vacuum]] retains
    * a contiguous TOP window — so if `hint` still resolves, every
    * version between it and the head exists and the probe cannot stop
    * short. A vacuumed-away hint falls back to the full listing.
    */
  def latestVersion(spark: SparkSession, path: String,
      hint: Option[Long] = None): Option[Long] =
    latestVersionIn(fsFor(spark, path), path, hint)

  private[io] def latestVersionIn(fs: FileSystem, path: String,
      hint: Option[Long]): Option[Long] = {
    def exists(v: Long): Boolean =
      fs.exists(new Path(manifestDir(path), f"v$v%09d.txt"))
    hint.filter(exists) match {
      case Some(h) =>
        var v = h
        while (exists(v + 1)) v += 1
        Some(v)
      case None => listVersions(fs, path).maxOption
    }
  }

  /** Exact COUNT(*) of the latest snapshot from manifest metadata alone
    * — zero data files opened, zero Spark jobs (commits harvest each
    * file's footer row count for free). Per partition directory via
    * [[partitionRowCounts]]. Returns None — degrade to scanning, never
    * to a wrong answer — when any live file predates row-count
    * harvesting (adopted legacy lakes, pre-rows manifests) or when
    * merge-on-read deltas are live (tombstones and post-images change
    * the count at read; [[compact]] restores the metadata answer). At
    * the design point this is the difference between answering a
    * 100 TB `COUNT(*)` from a manifest read and scanning the table.
    */
  def rowCount(spark: SparkSession, path: String): Option[Long] =
    partitionRowCounts(spark, path).map(_.values.sum)

  /** Per-partition-directory exact row counts from manifest metadata —
    * same contract as [[rowCount]].
    */
  def partitionRowCounts(spark: SparkSession,
      path: String): Option[Map[String, Long]] = {
    val fs = fsFor(spark, path)
    latestManifest(fs, path).flatMap { m =>
      metadataRowCount(m).map(_ => m.files.view
        .mapValues(_.flatMap(_.rows).sum).toMap)
    }
  }

  /** One version's SCHEMA from its manifest header alone — the light
    * resolve for metadata-table schema derivation: version-file
    * existence is checked (loud on vacuumed/never-published), but the
    * retired-directory walk [[manifestAt]] performs for pinned DATA
    * reads is skipped (a schema read opens no partition directories).
    */
  private[io] def schemaAt(spark: SparkSession, path: String,
      version: Long, branch: Option[String] = activeBranch()): StructType = {
    val fs = fsFor(spark, path)
    requireResolvable(fs, spark, path, version, branch)
    readManifest(fs, path, version, branch = branch).schema
  }

  /** The resolved manifest of `version` (or the latest when None) —
    * None for a manifest-less path; loud error for an unresolvable
    * explicit version (never published, or vacuumed), matching
    * [[readVersion]]'s contract. The version-aware seam the DSv2
    * surface ([[GraftLakeTable]]) resolves snapshots through.
    */
  private[io] def manifestAt(spark: SparkSession, path: String,
      version: Option[Long]): Option[Manifest] =
    manifestAt(spark, path, version, activeBranch())

  /** The explicit-branch overload: resolve within `branch`'s manifest
    * namespace instead of the ambient conf's — the seam the per-read
    * `branch` option / `#branch=<name>` SQL suffix pin through at TABLE
    * construction (like `versionAsOf`), so one query can see a branch
    * and main together with no session-conf flips around lazy frames.
    */
  private[io] def manifestAt(spark: SparkSession, path: String,
      version: Option[Long], branch: Option[String]): Option[Manifest] = {
    val fs = fsFor(spark, path)
    version match {
      case None => latestManifest(fs, path, branch)
      case Some(v) =>
        requireResolvable(fs, spark, path, v, branch)
        val m = readManifest(fs, path, v, branch = branch)
        // a resolvable manifest can still reference partition
        // DIRECTORIES physically retired (vacuum racing the read, or
        // external cleanup) — every explicit-version resolve checks
        // them so the pinned read fails HERE loudly instead of
        // mid-scan FileNotFound (or silent partial data under
        // ignoreMissingFiles). Checked by LEVEL-WISE LISTING, not one
        // exists() per dir: a 10k-partition lake would pay 10k
        // sequential round trips per VERSION AS OF resolve on an
        // object store; the walk costs one listing per internal tree
        // node (one total for 1-level layouts). Latest-version reads
        // skip the check: the live snapshot's dirs are
        // vacuum-protected.
        val dirs = allDirs(m)
        if (dirs.nonEmpty) {
          val depth = dirs.head.count(_ == '/') + 1
          // a directory deleted between the walk's parent listing and
          // its child listStatus (vacuum race on a multi-level layout)
          // would surface as a raw FileNotFound — fall back to the
          // per-dir existence probe, which cannot throw, so the error
          // is always the loud retirement message below
          val existing =
            try Some(leafPartitionDirs(fs, new Path(path), depth)
              .map(_._1).toSet)
            catch { case _: java.io.FileNotFoundException => None }
          val retired = existing match {
            case Some(e) => dirs.filterNot(e)
            case None =>
              dirs.filterNot(d => fs.exists(new Path(path, d)))
          }
          require(retired.isEmpty,
            s"snapshot v$v references partitions retired by vacuum or " +
              s"external cleanup: ${retired.mkString(", ")}")
        }
        Some(m)
    }
  }

  /** The ONE resolvability gate every explicit-version surface shares
    * (time travel, both CDF granularities, the DSv2/batch sources) —
    * one wording, one contract.
    */
  private def requireResolvable(fs: FileSystem, spark: SparkSession,
      path: String, v: Long,
      branch: Option[String] = activeBranch()): Unit =
    require(fs.exists(new Path(branchManifestDir(path, branch),
        f"v$v%09d.txt")),
      s"snapshot v$v is not resolvable on $path" +
        branch.map(b => s" (branch '$b')").getOrElse("") +
        " (never published, or reclaimed by vacuum); available: " +
        listVersions(fs, path, branch).sorted.mkString(", "))

  /** COUNT(*) of one resolved snapshot from metadata alone — the
    * [[rowCount]] contract applied to an explicit manifest (so time
    * travel answers too): None whenever any live file predates row
    * harvesting or merge-on-read deltas are live.
    */
  /** The ONE exactness gate for metadata answers (shared by rowCount,
    * partitionRowCounts, and size statistics so they can never diverge):
    * a per-file `field` sums to an exact snapshot total iff no
    * merge-on-read deltas are live (their sidecars change the answer at
    * read) and EVERY live file carries the field (pre-harvest manifests
    * and adopted legacy files don't). None = degrade, never guess.
    */
  private def metadataSum(m: Manifest,
      field: FileEntry => Option[Long]): Option[Long] =
    if (m.deltas.nonEmpty ||
        m.files.values.exists(_.exists(e => field(e).isEmpty))) None
    else Some(m.files.values.map(_.flatMap(field(_)).sum).sum)

  private[io] def metadataRowCount(m: Manifest): Option[Long] =
    metadataSum(m, _.rows)

  /** The snapshot's exact on-disk byte size from metadata alone — the
    * size STATISTIC the registered read surfaces report so the
    * optimizer can choose a broadcast join for a small lake. None —
    * degrade to the conservative "unknown = huge" default, never an
    * UNDERESTIMATE (a wrongly-broadcast big table is an OOM, the one
    * direction a size statistic must never err) — when any live file
    * predates byte harvesting or merge-on-read deltas are live (their
    * sidecars' sizes are not tracked per entry).
    */
  private[io] def metadataSizeBytes(m: Manifest): Option[Long] =
    metadataSum(m, _.bytes)

  /** The newest published version whose manifest was published at or
    * before `tsMillis` (epoch millis) — TIMESTAMP AS OF resolution,
    * Delta's semantics: publish time is the manifest file's mtime (the
    * rename that IS the commit point), which is monotone across
    * versions because optimistic concurrency publishes them in order.
    * Store-clock granularity applies (same caveat as Delta); version
    * pinning is the exact form. None when the lake predates `tsMillis`
    * entirely or the in-window manifests were vacuumed — callers fail
    * loudly, never silently-latest.
    */
  def versionAt(spark: SparkSession, path: String,
      tsMillis: Long): Option[Long] = {
    // ONE directory listing carries both names and mtimes — a
    // per-version getFileStatus would be N+1 round trips and could
    // throw on a version vacuumed between the listing and the stat
    val fs = fsFor(spark, path)
    listVersionsWithMtimes(fs, path)
      .collect { case (v, mt) if mt <= tsMillis => v }.maxOption
  }

  /** Time travel: read the lake AS OF a published snapshot version (see
    * [[snapshots]]). Works because commits only ever ADD files and
    * de-reference old ones. Two reclamation events can invalidate an old
    * version, and both fail HERE with a clear error instead of a
    * mid-scan FileNotFound (or silent partial data under
    * ignoreMissingFiles): [[vacuum]] deletes superseded files AND the
    * old manifests (caught by the manifest check), and a full overwrite
    * or CDC delete physically retires now-empty partition DIRECTORIES
    * (caught by the directory check — retirement is always
    * whole-directory, so directory existence is sufficient and costs
    * partition-count metadata, not file stats).
    */
  def readVersion(spark: SparkSession, path: String, version: Long): DataFrame =
    frameFor(spark, path, manifestAt(spark, path, Some(version)).get)

  /** Change-data-feed between two published snapshots — the read half of
    * the incremental story (Delta CDF / Iceberg incremental scan): rows
    * that differ between `fromVersion` and `toVersion`, each tagged
    * `_change_type` in `insert | delete | update_preimage |
    * update_postimage`, computed WITHOUT diffing whole snapshots:
    *
    *  - manifests are explicit per-partition file lists, so partitions
    *    whose file + delta signatures are identical in both versions are
    *    skipped entirely — their files are never opened (spec-pinned via
    *    `inputFiles`). At 100 TB this is the whole point: the cost
    *    scales with the CHANGED partition footprint, not table size;
    *  - partitions present only in `toVersion` stream out as inserts,
    *    only in `fromVersion` as deletes — a straight scoped scan, no
    *    join (deferred physical retirement is what keeps the pre-images
    *    readable until [[vacuum]]);
    *  - rewritten partitions get the q132-style row-level classify: one
    *    full-outer join on `keyCols` scoped to those partitions, emitted
    *    in a single pass (`explode` of per-row change arrays, so the
    *    join executes once, not once per change type). A compaction
    *    commit therefore yields ZERO changes.
    *
    * `keyCols` is the row identity within a partition — the same
    * `(partition cols..., key)` contract as [[upsert]]: partition
    * columns are ALWAYS part of the match (added here if the caller
    * left them out, exactly like upsert adds them), so a key value
    * reused across two rewritten partitions can never cross-match
    * into bogus update pairs claiming rows moved between partitions.
    * Null-safe equality, must be unique per side or the join
    * multiplies. Output
    * columns are `toVersion`'s schema (pre-images of since-dropped
    * columns surface as null) plus `_change_type`. Both versions must
    * still be resolvable (not vacuumed).
    */
  def changesBetween(spark: SparkSession, path: String, fromVersion: Long,
      toVersion: Long, keyCols: Seq[String]): DataFrame =
    changesBetweenOn(spark, path, fromVersion, toVersion, keyCols,
      perCommit = false, activeBranch())

  /** The change feed's two options, parsed one way on every surface
    * (`graft-lake`'s `changesFrom`/`changesTo` read, `<lake>#changes?`,
    * `graft-lake-cdf`): `keyCols` is the comma-separated row identity
    * and names at least one column; `granularity` is `net` (the
    * default) or `commit`, case-insensitive, and anything else refuses
    * — a typo ('commits', 'per-commit') must not silently flip feed
    * semantics between surfaces. `where` starts every message. Returns
    * (keyCols, perCommit).
    */
  private[graft] def changeFeedOptions(where: String,
      params: Map[String, String]): (Seq[String], Boolean) = {
    val keyCols = params.get("keyCols").toSeq.flatMap(_.split(','))
      .map(_.trim).filter(_.nonEmpty)
    if (keyCols.isEmpty) sys.error(s"$where keyCols is required: the " +
      "comma-separated row identity, e.g. keyCols=part,k")
    val perCommit = params.getOrElse("granularity", "net")
        .toLowerCase(java.util.Locale.ROOT) match {
      case "net" => false
      case "commit" => true
      case other => sys.error(s"$where granularity must be 'net' " +
        "(default — one net diff of the version range) or 'commit' " +
        s"(per-version changes tagged _commit_version), got '$other'")
    }
    (keyCols, perCommit)
  }

  /** The explicit-branch seam both CDF granularities resolve through —
    * what the per-read `#branch=<name>#changes` pin routes to (the
    * public overloads pass the ambient conf, verbatim old behavior).
    * A branch's OWN version line diffs exactly like main's: endpoints
    * resolve in the branch namespace; the data files live in the
    * shared partition directories either way.
    */
  private[io] def changesBetweenOn(spark: SparkSession, path: String,
      fromVersion: Long, toVersion: Long, keyCols: Seq[String],
      perCommit: Boolean, branch: Option[String]): DataFrame = {
    require(fromVersion <= toVersion,
      s"changesBetween: fromVersion $fromVersion > toVersion $toVersion")
    val fs = fsFor(spark, path)
    Seq(fromVersion, toVersion).foreach(
      requireResolvable(fs, spark, path, _, branch))
    if (!perCommit) {
      val m1 = readManifest(fs, path, fromVersion, branch = branch)
      val m2 = readManifest(fs, path, toVersion, branch = branch)
      return diffManifests(spark, path, m1, m2, keyCols)
    }
    perCommitChanges(spark, path, fromVersion, toVersion, keyCols, branch)
  }

  /** PER-COMMIT change-data-feed granularity (`perCommit = true`) — the
    * audit/replication form Delta CDF calls per-version reading: instead
    * of one NET diff of the endpoints, every published version in
    * `(fromVersion, toVersion]` contributes ITS OWN diff against its
    * predecessor, tagged with a `_commit_version` column, so
    * intermediate churn (a row inserted then deleted between the
    * endpoints, an update chain) is visible commit by commit — exactly
    * what a Debezium-style consumer or an audit trail needs, where the
    * net form deliberately collapses it. `perCommit = false` is the net
    * form verbatim (no `_commit_version` column).
    *
    * Cost model: per-version manifests resolve through one shared leaf
    * cache (consecutive versions share almost all v2 leaves), and each
    * per-commit diff opens only ITS changed partitions' files — total
    * I/O scales with the sum of per-commit change footprints, which is
    * the honest price of per-commit granularity. Folding the per-commit
    * changes in order reconstructs the net diff's end state
    * (spec-pinned).
    */
  def changesBetween(spark: SparkSession, path: String, fromVersion: Long,
      toVersion: Long, keyCols: Seq[String], perCommit: Boolean): DataFrame =
    changesBetweenOn(spark, path, fromVersion, toVersion, keyCols,
      perCommit, activeBranch())

  /** The per-commit body — endpoints already validated by
    * [[changesBetweenOn]] (the only caller).
    */
  private def perCommitChanges(spark: SparkSession, path: String,
      fromVersion: Long, toVersion: Long, keyCols: Seq[String],
      branch: Option[String]): DataFrame = {
    val fs = fsFor(spark, path)
    val leafCache = scala.collection.concurrent.TrieMap.empty[String, Seq[String]]
    val manifests = (fromVersion to toVersion).map(
      readManifest(fs, path, _, leafCache, branch))
    val ct = "_commit_version"
    // every per-pair diff is aligned to the FINAL schema before the
    // union: a mid-range additive evolution gives earlier pairs fewer
    // columns (each diff surfaces ITS toVersion's schema), and the
    // union would otherwise refuse — rows before the evolution carry
    // null for the later columns, same rule as everywhere else
    val outSchema = StructType(manifests.last.schema.fields :+
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType))
    val diffs = manifests.zip(manifests.tail).map { case (a, b) =>
      alignTo(diffManifests(spark, path, a, b, keyCols), outSchema)
        .withColumn(ct, lit(b.version))
    }
    diffs.reduceOption(_ unionByName _).getOrElse {
      // empty range (fromVersion == toVersion): typed empty frame
      val schema = StructType(manifests.last.schema.fields ++ Seq(
        org.apache.spark.sql.types.StructField("_change_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField(ct,
          org.apache.spark.sql.types.LongType)))
      spark.createDataFrame(new java.util.ArrayList[Row](), schema)
    }
  }

  /** The manifest-pair diff both granularities share — see
    * [[changesBetween]] for the semantics and scale argument.
    */
  private def diffManifests(spark: SparkSession, path: String,
      m1: Manifest, m2: Manifest, keyCols: Seq[String]): DataFrame = {
    val out = m2.schema
    require(keyCols.forall(out.fieldNames.contains),
      s"keyCols ${keyCols.mkString(", ")} must all exist in snapshot " +
        s"v${m2.version}'s schema (${out.fieldNames.mkString(", ")})")
    val ct = "_change_type"
    def scoped(m: Manifest, ds: Set[String]): DataFrame =
      frameFor(spark, path, m.copy(
        files = m.files.view.filterKeys(ds).toMap,
        deltas = m.deltas.view.filterKeys(ds).toMap))
    // id-aware rename bridge: a column renamed between the endpoints
    // keeps its IDENTITY in the change feed — the from-side frame is
    // projected onto the to-side names by shared stable id before the
    // by-name alignment, so a rename classifies as "same column"
    // instead of a drop+add that nulls every pre-image. One
    // simultaneous select (not chained withColumnRenamed): a pair of
    // renames that SWAP names between the endpoints stays correct.
    val toNameOfId = m2.columnIds.getOrElse(Map.empty)
      .map { case (n, i) => i -> n }
    val renameMap: Map[String, String] =
      m1.columnIds.getOrElse(Map.empty).flatMap { case (n1, i) =>
        toNameOfId.get(i).filter(n2 =>
          n2 != n1 && m1.schema.fieldNames.contains(n1) &&
            out.fieldNames.contains(n2)).map(n1 -> _)
      }
    def bridge(df: DataFrame): DataFrame =
      if (renameMap.isEmpty) df
      else df.select(df.columns.map(c =>
        col(c).as(renameMap.getOrElse(c, c))).toIndexedSeq: _*)
    // pre-image rows aligned to the TO schema (additive evolution:
    // columns the old snapshot lacked surface as null)
    def align(df: DataFrame): DataFrame = alignTo(bridge(df), out)
    val d1 = allDirs(m1)
    val d2 = allDirs(m2)
    val rewritten = (d1 & d2).filter(d => dirSig(m1, d) != dirSig(m2, d))
    val inserts = scoped(m2, d2 -- d1).withColumn(ct, lit("insert"))
    val deletes = align(scoped(m1, d1 -- d2)).withColumn(ct, lit("delete"))
    val o = align(scoped(m1, rewritten))
    val n = scoped(m2, rewritten)
    // partition columns are implicitly part of the row identity
    // (dirs exist on at least one side whenever `rewritten` is
    // non-empty; both empty -> no classify join happens anyway)
    val idCols = ((d2 ++ d1).headOption.toSeq.flatMap(colsOfDir)
      ++ keyCols).distinct
    val valueCols = out.fieldNames.filterNot(idCols.contains)
    val oKeyed = o.select(
      (idCols.map(c => col(c).as(s"__o_$c")) ++
        valueCols.map(c => col(c).as(s"__o_$c")) :+
        lit(true).as("__o_present")).toIndexedSeq: _*)
    val nKeyed = n.withColumn("__n_present", lit(true))
    val cond = idCols.map(c => nKeyed(c) <=> oKeyed(s"__o_$c"))
      .reduceOption(_ && _).getOrElse(lit(true))
    val j = nKeyed.join(oKeyed, cond, "full_outer")
    def rowStruct(side: String => Column, tag: String): Column =
      struct((out.fieldNames.map(c => side(c).as(c)) :+
        lit(tag).as(ct)).toIndexedSeq: _*)
    val newSide = (c: String) => col(c)
    val oldSide = (c: String) => col(s"__o_$c")
    val anyDiff = valueCols.map(c => !(col(c) <=> col(s"__o_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    // single-pass emission: the join runs ONCE; each row explodes into
    // its 0/1/2 change rows (a union of filtered branches would re-run
    // the join per change type)
    val changes = when(col("__o_present").isNull,
        array(rowStruct(newSide, "insert")))
      .when(col("__n_present").isNull, array(rowStruct(oldSide, "delete")))
      .when(anyDiff, array(rowStruct(oldSide, "update_preimage"),
        rowStruct(newSide, "update_postimage")))
      .otherwise(array(rowStruct(newSide, "__unchanged")))
    val diffed = j.select(explode(changes).as("__c")).select(col("__c.*"))
      .filter(col(ct) =!= "__unchanged")
    diffed.unionByName(inserts).unionByName(deletes)
  }

  /** Poll-driven incremental change-feed consumer — the streaming lake
    * source in the same shape as the repo's other `foreachBatch`
    * integrations: resolves every snapshot published after
    * `fromVersion` (0 = from the lake's creation) and feeds each
    * consecutive per-version diff to `consumer(changes, fromV, toV)` in
    * commit order, returning the new cursor (persist it and pass it
    * back on the next poll — redelivery after a crash before the cursor
    * write is the usual at-least-once contract, and the change rows are
    * keyed so downstream merges are idempotent). Stream == batch by
    * construction: replaying every fed diff onto `readVersion(
    * fromVersion)` reconstructs `readVersion(<returned cursor>)`
    * (spec-pinned).
    */
  def readChangesStream(spark: SparkSession, path: String,
      keyCols: Seq[String], fromVersion: Long)(
      consumer: (DataFrame, Long, Long) => Unit): Long = {
    var cur = fromVersion
    snapshots(spark, path).filter(_ > fromVersion).sorted.foreach { v =>
      if (cur == 0L) {
        // no pre-creation snapshot to diff against: the first feed batch
        // is the whole v1 snapshot as inserts
        consumer(readVersion(spark, path, v)
          .withColumn("_change_type", lit("insert")), cur, v)
      } else {
        consumer(changesBetween(spark, path, cur, v, keyCols), cur, v)
      }
      cur = v
    }
    cur
  }

  /** Bin-pack compaction: partitions holding more than one live file are
    * rewritten to one file each (split further only by
    * `spark.sql.files.maxRecordsPerFile` if set) and committed through
    * the snapshot protocol — readers keep resolving whole snapshots
    * throughout, untouched partitions carry over verbatim, and the
    * superseded small files stay until [[vacuum]]. This is the standing
    * companion job of the streaming sinks ([[upsert]]/[[cdcSink]] add a
    * few files per micro-batch; without compaction a year of 1-minute
    * batches is half a million files per partition and the scan is
    * listing-bound, not byte-bound). `statsCols` re-harvests footer
    * bounds for the rewritten files (pass the same columns the writes
    * used, or fewer — absent stats only cost skipping, never
    * correctness).
    */
  /** Compaction WITH CLUSTERING: rewrite every partition's data
    * z-ordered on `zorderBy` (two numeric columns interleave into a
    * morton code — [[graft.operators.LayoutOps.zValue]]; one column is
    * a plain range cluster), split into ~`filesPerPartition` files per
    * partition, each covering a contiguous z-range — so each file is a
    * small RECTANGLE in `zorderBy` space and a later [[readBox]] on
    * those columns opens a handful of files instead of the partition
    * (Delta/Iceberg `OPTIMIZE ZORDER BY`, as routine lake maintenance
    * instead of a manual LayoutOps pre-sort before write). Footer
    * bounds are harvested for `statsCols ++ zorderBy`, which is what
    * arms the skipping. Rows, snapshots, and time travel are untouched:
    * the rewrite commits through the snapshot protocol like any other
    * compaction (pre-compact versions stay resolvable until vacuum),
    * and merge-on-read deltas materialize away exactly as in the
    * bin-pack form.
    *
    * The cluster pass is one `repartitionByRange` over
    * `(partitionCols..., z)` + in-task sort — a single full-data range
    * shuffle, the honest price of re-clustering (the same shuffle
    * OPTIMIZE pays). Size `filesPerPartition` so each output file lands
    * near the parquet sweet spot at your scale; more files = finer
    * skipping rectangles, diminishing after ~raw-bytes/128 MB.
    */
  private def compactZorder(spark: SparkSession, path: String,
      statsCols: Seq[String], zorderBy: Seq[String],
      filesPerPartition: Int): Unit = {
    require(zorderBy.size <= 2,
      s"zorderBy interleaves at most 2 columns, got ${zorderBy.size} " +
        "(higher dimensions dilute every column's locality; pick the two " +
        "most selective filter columns)")
    require(filesPerPartition >= 1, "filesPerPartition must be >= 1")
    val fs = fsFor(spark, path)
    // an EMPTY manifest (every row deleted) has nothing to cluster and
    // no directory key to read partition columns off — no-op, like the
    // bin-pack form on a nothing-to-do lake
    latestManifest(fs, path).filter(m => allDirs(m).nonEmpty).foreach { m =>
      val partitionCols = partitionColsOf(m)
      zorderBy.foreach { c =>
        require(m.schema.fieldNames.contains(c) && !partitionCols.contains(c),
          s"zorderBy column '$c' must be a non-partition data column of " +
            s"the snapshot (${m.schema.fieldNames.mkString(", ")})")
        require(m.schema(c).dataType
            .isInstanceOf[org.apache.spark.sql.types.NumericType],
          s"zorderBy column '$c' must be numeric (z-values interleave " +
            s"integer bits); it is ${m.schema(c).dataType.simpleString}")
      }
      val zcol = if (zorderBy.size == 2)
        graft.operators.LayoutOps.zValue(
          col(zorderBy(0)).cast("long"), col(zorderBy(1)).cast("long"))
      else col(zorderBy.head)
      // the whole snapshot, merge-on-read deltas materialized — same
      // read the bin-pack form uses, then clustered instead of packed
      val slice = frameFor(spark, path, m)
      val rangeCols = partitionCols.map(col) :+ zcol
      val nOut = math.max(1, allDirs(m).size * filesPerPartition)
      val clustered = slice.repartitionByRange(nOut, rangeCols: _*)
        .sortWithinPartitions(rangeCols: _*)
      val (staging, staged) = stage(spark, fs, path, clustered,
        partitionCols, stickyStats(Some(m), statsCols ++ zorderBy,
          slice.schema.fieldNames.toSeq))
      commitStaged(fs, path, staging, staged, allDirs(m), slice.schema,
        Some(m), None)
    }
  }

  def compact(spark: SparkSession, path: String,
      statsCols: Seq[String] = Nil, zorderBy: Seq[String] = Nil,
      filesPerPartition: Int = 16): Unit = {
    if (zorderBy.nonEmpty)
      return compactZorder(spark, path, statsCols, zorderBy,
        filesPerPartition)
    compactRestricted(spark, path, statsCols, None)
  }

  /** [[compact]]'s bin-pack body, optionally RESTRICTED to a subset of
    * partition directories — the MOR log governor compacts only the
    * partitions whose accumulated delta log crossed the bound, not the
    * whole lake ([[morLogGovern]]).
    */
  private[io] def compactRestricted(spark: SparkSession, path: String,
      statsCols: Seq[String], only: Option[Set[String]]): Unit = {
    val fs = fsFor(spark, path)
    latestManifest(fs, path).foreach { m =>
      // a partition needs compaction when it holds multiple files,
      // carries merge-on-read deltas (materialized away by the rewrite:
      // the slice below reads THROUGH frameFor, so the merged view is
      // what gets written back and the deltas drop from the manifest),
      // OR holds files pinned to pre-rename physical column names (the
      // rewrite re-physicalizes them under the current names, and once
      // no pin is live the native DSv2 batch serves the lake again)
      val eligible = m.files.filter(_._2.size > 1).keySet ++
        m.deltas.keySet ++
        m.files.filter(_._2.exists(_.physNames.nonEmpty)).keySet
      val todoDirs = only.map(eligible.intersect).getOrElse(eligible)
      if (todoDirs.isEmpty) return
      val todo = m.files.view.filterKeys(todoDirs).toMap
      val partitionCols = partitionColsOf(m)
      // one task per partition tuple -> one output file per partition
      val slice = frameFor(spark, path, m.copy(files = todo,
          deltas = m.deltas.view.filterKeys(todoDirs).toMap))
        .repartition(partitionCols.map(col): _*)
      val (staging, staged) = stage(spark, fs, path, slice, partitionCols,
        stickyStats(Some(m), statsCols, slice.schema.fieldNames.toSeq))
      commitStaged(fs, path, staging, staged, todoDirs, slice.schema,
        Some(m), None)
    }
  }

  /** Delete files superseded by the RETAINED snapshots and manifests
    * older than the retention window.
    *
    * `keepLast` is the retention window: the newest `keepLast` versions
    * stay fully readable after vacuum — time travel, pinned readers,
    * and a stopped `graft-lake-cdf` stream whose checkpointed offset is
    * inside the window all survive maintenance (Delta/Iceberg ship
    * retention for exactly this; `keepLast = 1` is the aggressive
    * reclaim-everything-superseded mode). Out-of-window consumers fail
    * LOUDLY ([[changesBetween]]/[[readVersion]] on a vacuumed version),
    * never silently skip.
    *
    * `graceMs` shields RECENTLY-WRITTEN unreferenced files: an in-flight
    * commit moves staged files into partition directories BEFORE it wins
    * the manifest rename, so a vacuum racing that commit would otherwise
    * delete files the about-to-publish snapshot references. Files,
    * staging directories, manifest temp files, and v2 leaf shards
    * younger than `graceMs` are left alone. Default 0 keeps the strict
    * maintenance-window contract (run vacuum with no writers in flight);
    * production lakes with concurrent writers should pass a grace
    * comfortably above the longest commit's stage-to-publish latency
    * (minutes, not milliseconds).
    *
    * Sharded (format v2) manifests: leaf files referenced by NO retained
    * manifest are retired here too — content-addressed leaves are shared
    * across versions, so the live set is the union over the window.
    */
  def vacuum(spark: SparkSession, path: String, keepLast: Int = 1,
      graceMs: Long = 0L): Unit = {
    requireMainLine("vacuum")
    val fs = fsFor(spark, path)
    val versions = snapshots(spark, path)
    if (versions.isEmpty) return
    // TAGGED versions are retained OUTSIDE the keepLast window: a tag
    // is a promise that `VERSION AS OF '<name>'` keeps answering until
    // someone drops it — reclaiming its files would break the promise
    // silently (the read would fail loudly, but the retention contract
    // is that it never has to)
    val tagged = tagsWithMtimes(fs, path).map(_._2).toSet
    val retainedVersions =
      (versions.takeRight(math.max(1, keepLast)) ++
        versions.filter(tagged)).distinct.sorted
    // consecutive versions share almost all v2 leaves — resolve the
    // window through one shared leaf cache instead of keepLast-fold
    // redundant leaf reads
    val leafCache = scala.collection.concurrent.TrieMap.empty[String, Seq[String]]
    // LIVE BRANCHES protect their whole version chains: branch data
    // files live in the shared partition directories referenced only
    // by branch-namespace manifests, and a stopped-then-resumed audit
    // may still pin any branch version — sweeping them would corrupt
    // the branch silently. Branch manifests are tiny; the data-file
    // union is what matters.
    val branchChains = branches(spark, path).map { case (b, _) =>
      b -> listVersions(fs, path, Some(b)).sorted
        .map(readManifest(fs, path, _, leafCache, branch = Some(b)))
    }
    val retainedMain = retainedVersions.map(readManifest(fs, path, _,
      leafCache))
    // PIN ACCOUNTING: each live branch is a storage pin with no expiry
    // — report, per branch, what its chain holds against this sweep
    // (the aging governor's observability half: a forgotten branch
    // surfaces in every vacuum log instead of silently growing the
    // bill). Measured against the main HEAD — the post-sweep steady
    // state a dropped branch would converge to.
    if (branchChains.nonEmpty) {
      val mainFiles = mainFileIdentities(retainedMain.lastOption)
      branchChains.foreach { case (b, chain) =>
        val pinnedFiles = chain.flatMap(m => m.files.toSeq.flatMap {
          case (d, es) => es.map(e => (d, e.name)) }).toSet -- mainFiles
        val bytes = pinnedBytesOf(chain, mainFiles)
          .map(v => s"$v bytes").getOrElse("bytes unknown")
        logger.warn(s"vacuum($path): live branch '$b' pins " +
          s"${pinnedFiles.size} data file(s) / $bytes beyond the main " +
          "head — publish or drop it to reclaim")
      }
    }
    val retained = retainedMain ++ branchChains.flatMap(_._2)
    // "now" comes from the STORE's clock, not the driver's: the grace
    // check compares against getModificationTime, and driver/store clock
    // skew would erode the window in the dangerous direction (young
    // files judged old and reclaimed under a racing committer). Stat a
    // probe file written at sweep start and use its mtime — any
    // mtime-granularity rounding lands BEHIND true store time, which
    // only makes files look younger (the conservative direction).
    val now = if (graceMs <= 0) System.currentTimeMillis() else {
      val probe = new Path(new Path(path, StagingDirName),
        s".vacuum-probe-${UUID.randomUUID().toString.take(8)}")
      fs.mkdirs(probe.getParent)
      fs.create(probe, true).close()
      val t = fs.getFileStatus(probe).getModificationTime
      fs.delete(probe, false)
      t
    }
    def young(st: org.apache.hadoop.fs.FileStatus): Boolean =
      graceMs > 0 && now - st.getModificationTime < graceMs
    // recursive sweep over the nested partition tree: a dir that IS a
    // key of some retained manifest keeps the union of the retained
    // versions' live files; a dir that is a PREFIX of live keys
    // recurses; anything else is unreferenced and retires (young files
    // first survive the grace window)
    val live = retained.map(allDirs).reduce(_ ++ _) // hoisted: sweep
    // visits O(P) dirs, and a per-visit set rebuild would be O(P^2)
    def keepIn(d: String): Set[String] = retained.flatMap(m =>
      m.files.getOrElse(d, Nil).map(_.name) ++ m.deltas.getOrElse(d, Nil)
    ).toSet
    // unreferenced subtree: delete old files, keep young ones, drop
    // directories that end up empty — UNLESS the directory itself is
    // young. A racing commit `mkdirs` a NEW partition directory and
    // only then renames its staged files in; deleting the empty young
    // dir inside that window fails the rename and aborts the commit,
    // so a young dir is protected exactly like a young file.
    // non-recursive dir delete that tolerates losing a race: a commit
    // renaming a file in between our emptiness check and the rmdir
    // makes the delete fail — correct outcome is "leave it", not a
    // crashed vacuum
    def deleteDirIfStillEmpty(p: Path): Unit =
      try { fs.delete(p, false); () }
      catch { case _: java.io.IOException => () }
    def retire(dir: Path): Boolean = {
      var empty = true
      fs.listStatus(dir).foreach { st =>
        if (st.isDirectory) {
          if (retire(st.getPath) && !young(st)) deleteDirIfStillEmpty(st.getPath)
          else empty = false
        } else if (!young(st)) fs.delete(st.getPath, false)
        else empty = false
      }
      empty
    }
    def sweep(dir: Path, rel: String): Unit =
      fs.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        val childRel = if (rel.isEmpty) name else s"$rel/$name"
        if (st.isDirectory && name.contains("=")) {
          if (live.contains(childRel)) {
            // live data files AND live merge-on-read delta sidecars,
            // across every retained version
            val keep = keepIn(childRel)
            fs.listStatus(st.getPath)
              .filter(f => f.isFile && !keep(f.getPath.getName) && !young(f))
              .foreach(f => fs.delete(f.getPath, false))
          } else if (live.exists(_.startsWith(childRel + "/"))) {
            sweep(st.getPath, childRel)
          } else if (retire(st.getPath) && !young(st)) {
            deleteDirIfStillEmpty(st.getPath)
          }
        } else if (rel.isEmpty && st.isDirectory && name == StagingDirName) {
          // abandoned stagings — but an ACTIVE committer's staging dir
          // is younger than the grace window and survives
          fs.listStatus(st.getPath)
            .filterNot(young)
            .foreach(s => fs.delete(s.getPath, true))
        }
      }
    sweep(new Path(path), "")
    val liveLeaves = retained.flatMap(_.leaves).toSet
    val retainedSet = retainedVersions.toSet
    // the WINDOW floor, not min(retained ∪ tagged): everything at or
    // above it is kept unconditionally, which also protects a manifest
    // a racing commit published after this sweep listed versions
    val floor = versions.takeRight(math.max(1, keepLast)).min
    fs.listStatus(manifestDir(path)).foreach { st =>
      st.getPath.getName match {
        // a tagged version's manifest survives below the window floor;
        // untagged ones inside version GAPS (between a tag and the
        // window) go — retention is the union of window + pins, not a
        // contiguous range
        case ManifestFile(n) if n.toLong < floor &&
            !retainedSet.contains(n.toLong) =>
          fs.delete(st.getPath, false)
        // format v2 leaf shards are content-addressed and shared across
        // versions — one referenced by no retained manifest is garbage,
        // unless it is young (a racing committer writes its leaves just
        // before the top-file rename)
        case leaf if leaf.startsWith("leaf-") && !liveLeaves(leaf) &&
            !young(st) =>
          fs.delete(st.getPath, false)
        // a committer that died between writing its temp manifest and
        // the publish rename leaves a .tmp-* orphan — reclaim it here
        // (same grace: a LIVE committer's temp is young)
        case tmp if tmp.startsWith(".tmp-") && !young(st) =>
          fs.delete(st.getPath, false)
        case _ => ()
      }
    }
  }

  // ---- named snapshot tags -------------------------------------------------

  private val TagsDirName = "_tags"
  private def tagsDir(path: String) = new Path(path, TagsDirName)
  // conservative charset: the name IS a filename on every store the
  // lake runs on, and it surfaces verbatim in SQL (`VERSION AS OF
  // 'name'`) — no escaping layer to get wrong
  private val TagNameRe = "^[A-Za-z0-9][A-Za-z0-9._-]{0,127}$".r

  /** Shared ref-name gate for tags AND branches: both become metadata
    * path segments and SQL literals, so the conservative charset
    * applies to both; the all-digit refusal guards every resolution
    * path that tries numeric-version first (resolveVersion, versionAsOf
    * options, #changes endpoints) — tag '2026' would be silently
    * shadowed by snapshot numbering, and a branch named like a number
    * invites the same confusion in error messages and tooling.
    */
  private[io] def requireRefName(what: String, name: String): Unit = {
    require(TagNameRe.matches(name),
      s"$what name '$name' must match ${TagNameRe.regex} (it becomes " +
        "a metadata filename and a SQL literal)")
    require(!name.forall(_.isDigit),
      s"$what name '$name' is all digits, which is indistinguishable " +
        "from a snapshot version number — pick a name with at least " +
        "one non-digit character")
  }

  private def requireTagName(name: String): Unit =
    requireRefName("tag", name)

  /** Pin `name` to a RESOLVABLE snapshot version — a named ref for
    * time travel (`VERSION AS OF 'name'`) that also makes the version
    * immortal under [[vacuum]] (tagged snapshots are retained outside
    * the `keepLast` window until the tag is dropped — Iceberg's tag
    * retention semantics). Tags are immutable by default: re-tagging
    * the same version is idempotent, a different version refuses with
    * directions ([[dropTag]] first) — a silently moved pin is how an
    * audit reads the wrong data without noticing. Creation is atomic
    * (temp + rename). Run tagging outside a concurrent [[vacuum]]'s
    * window, same contract as writers vs `graceMs`: a tag written
    * after vacuum read the tag list cannot protect a version that
    * sweep is reclaiming.
    */
  def tag(spark: SparkSession, path: String, name: String,
      version: Long): Unit = {
    requireMainLine("tag")
    requireTagName(name)
    val fs = fsFor(spark, path)
    val vs = listVersions(fs, path)
    require(vs.contains(version),
      s"cannot tag $path version $version: not a resolvable snapshot " +
        s"(retained: ${vs.sorted.mkString(", ")})")
    val f = new Path(tagsDir(path), s"$name.txt")
    if (fs.exists(f)) {
      val cur = readSmallTextFile(fs, f).trim.toLong
      if (cur == version) return // idempotent re-pin
      sys.error(s"tag '$name' already pins version $cur on $path — " +
        "tags are immutable refs; dropTag first to move it")
    }
    fs.mkdirs(tagsDir(path))
    val tmp = new Path(tagsDir(path),
      s".tmp-$name-${UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(version.toString.getBytes("UTF-8")) finally out.close()
    if (!fs.rename(tmp, f)) {
      fs.delete(tmp, false)
      // the rename loser re-reads: same-version race is still a success
      val cur = readSmallTextFile(fs, f).trim.toLong
      if (cur != version) sys.error(
        s"tag '$name' raced another tagger on $path (now pins $cur)")
    }
  }

  /** Remove a tag; the pinned version becomes reclaimable by the next
    * [[vacuum]] (if outside `keepLast`). Unknown tags refuse — a
    * misspelled drop silently succeeding would leave the real pin
    * alive and the storage bill growing.
    */
  def dropTag(spark: SparkSession, path: String, name: String): Unit = {
    requireMainLine("drop_tag")
    requireTagName(name)
    val fs = fsFor(spark, path)
    val f = new Path(tagsDir(path), s"$name.txt")
    if (!fs.exists(f)) sys.error(
      s"no tag '$name' on $path (tags: ${tags(spark, path).map(_._1)
        .mkString(", ")})")
    fs.delete(f, false)
  }

  /** All tags, `(name, version)`, name-sorted. One directory listing. */
  def tags(spark: SparkSession, path: String): Seq[(String, Long)] =
    tagsWithMtimes(fsFor(spark, path), path).map(t => (t._1, t._2))

  /** The listing with pin times (file mtimes) — the `#tags` metadata
    * table's rows.
    */
  private[io] def tagsWithMtimes(fs: FileSystem,
      path: String): Seq[(String, Long, Long)] = {
    val dir = tagsDir(path)
    if (!fs.exists(dir)) return Nil
    fs.listStatus(dir).toSeq.flatMap { st =>
      val n = st.getPath.getName
      if (n.endsWith(".txt") && !n.startsWith("."))
        readSmallTextFile(fs, st.getPath).trim.toLongOption
          .map(v => (n.stripSuffix(".txt"), v, st.getModificationTime))
      else None
    }.sortBy(_._1)
  }

  /** The `#tags` metadata table's row shape — shared with
    * the SQL `#tags` table ([[GraftLakeMetaTable]]) so the surfaces
    * cannot drift.
    */
  private[io] val tagsSchema: StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("tag", StringType, nullable = false),
      StructField("version", LongType, nullable = false),
      StructField("pinned_at", TimestampType, nullable = false)))
  }

  private[io] def tagsFrame(spark: SparkSession, path: String): DataFrame = {
    val rows = tagsWithMtimes(fsFor(spark, path), path).map {
      case (n, v, mtime) => Row(n, v, new java.sql.Timestamp(mtime))
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      tagsSchema)
  }

  /** The `#branches` metadata table's row shape — one row per staged
    * write-audit-publish branch: its base (the main-line version it
    * forked from), its head (the branch's own latest version), the
    * staged commit count between them, and the AGING/COST columns that
    * make the immortality edge visible (`created_at`/`age_ms` from the
    * bootstrap manifest's store mtime; `pinned_bytes` = bytes of data
    * files the branch's version chain references that the CURRENT main
    * head does not — what the branch alone is holding against
    * [[vacuum]]. Null when any such file predates byte harvesting;
    * merge-on-read delta sidecars are name-only in manifests and are
    * not counted).
    */
  private[io] val branchesSchema: StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("branch", StringType, nullable = false),
      StructField("base_version", LongType, nullable = false),
      StructField("head_version", LongType, nullable = false),
      StructField("staged_commits", LongType, nullable = false),
      StructField("created_at", TimestampType, nullable = false),
      StructField("age_ms", LongType, nullable = false),
      StructField("pinned_bytes", LongType, nullable = true)))
  }

  /** Bytes of data files `chain` references beyond `mainFiles` (the
    * current main head's (dir, file) identity set) — the branch's
    * storage pin. None when any pinned entry predates byte harvesting
    * (degrade, never underestimate).
    */
  private def pinnedBytesOf(chain: Seq[Manifest],
      mainFiles: Set[(String, String)]): Option[Long] = {
    val pinned = chain.flatMap(m => m.files.toSeq.flatMap {
      case (d, es) => es.map(e => ((d, e.name), e.bytes))
    }).toMap.filterNot { case (k, _) => mainFiles(k) }
    if (pinned.values.exists(_.isEmpty)) None
    else Some(pinned.values.flatten.sum)
  }

  private def mainFileIdentities(m: Option[Manifest]): Set[(String, String)] =
    m.map(h => h.files.toSeq.flatMap { case (d, es) =>
      es.map(e => (d, e.name)) }.toSet).getOrElse(Set.empty)

  private[io] def branchesFrame(spark: SparkSession,
      path: String): DataFrame = {
    val fs = fsFor(spark, path)
    val leafCache =
      scala.collection.concurrent.TrieMap.empty[String, Seq[String]]
    val mainFiles =
      mainFileIdentities(latestManifest(fs, path, None))
    val now = System.currentTimeMillis()
    // a concurrent dropBranch/publishBranch between the branches()
    // listing and this re-listing can empty a branch's version chain —
    // drop such branches at render time instead of crashing the
    // metadata read on an empty .max
    val rows = branches(spark, path).flatMap { case (b, base) =>
      val withMtimes = listVersionsWithMtimes(fs, path, Some(b))
      withMtimes.map(_._1).maxOption.map { head =>
        val created = withMtimes.minBy(_._1)._2
        val chain = withMtimes.map(_._1).sorted
          .map(readManifest(fs, path, _, leafCache, Some(b)))
        Row(b, base, head, head - base,
          new java.sql.Timestamp(created), math.max(0L, now - created),
          pinnedBytesOf(chain, mainFiles).map(Long.box).orNull)
      }
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      branchesSchema)
  }

  /** Restore a retained snapshot as the NEW head — the audited undo
    * (Iceberg's `rollback_to_snapshot` semantics): a new version is
    * published whose content (files, deltas, schema, layout, column
    * ids) is the target's, so history is PRESERVED — the bad versions
    * stay time-travelable for the post-mortem, the change feed shows
    * the rollback as a normal commit, and the next [[vacuum]] reclaims
    * them when they leave the window. Zero data jobs: the target's
    * files are re-referenced, not copied (they exist — a readable
    * manifest implies vacuum retained the version). Replay guards
    * (`txn:` slots) carry from the HEAD, never rewind: a rollback must
    * not open the door to double-applying a streaming batch the bad
    * versions had folded. Racing commits rebase through the standard
    * publish loop; rolling back to the current head is a no-op (no
    * version churn). Returns the published version (or the head when
    * no-op).
    */
  def rollback(spark: SparkSession, path: String, toVersion: Long): Long = {
    requireMainLine("rollback")
    val fs = fsFor(spark, path)
    require(listVersions(fs, path).contains(toVersion),
      s"cannot roll back $path to version $toVersion: not a resolvable " +
        s"snapshot (retained: ${listVersions(fs, path).sorted
          .mkString(", ")})")
    val target = readManifest(fs, path, toVersion)
    var attempts = 0
    while (true) {
      val head = latestManifest(fs, path).getOrElse(sys.error(
        s"manifest for $path vanished during rollback"))
      if (head.version == toVersion) return head.version
      val ok = tryPublishManifest(fs, path, target.copy(
        version = head.version + 1, txns = head.txns))
      if (ok) return head.version + 1
      attempts += 1
      require(attempts < 20,
        s"rollback of $path lost the publish race $attempts times — " +
          "retry when the writer storm passes")
    }
    sys.error("unreachable")
  }

  // ---- write-audit-publish branches ----------------------------------------

  /** Create branch `name` from a main-line snapshot (default: the
    * current head) — the WRITE half of write-audit-publish: with
    * [[BranchKey]] set to the name, every subsequent lake operation
    * (writes, SQL DML, reads, compaction, the change feed) runs
    * against the branch's own manifest namespace while main readers
    * see nothing. The bootstrap publishes a COPY of the base manifest
    * into `_branches/<name>/_manifest/` at the base's version number —
    * one small metadata write, zero data jobs; branch commits then
    * advance that private version line through the standard protocol
    * (rebase, txn guards, MOR folds — all of it). Audit the branch
    * with whatever checks matter (the validation rule engine over a
    * branch read is the canonical one), then [[publishBranch]] or
    * [[dropBranch]]. Returns the base version.
    */
  def createBranch(spark: SparkSession, path: String, name: String,
      fromVersion: Option[Long] = None): Long = {
    requireRefName("branch", name)
    val fs = fsFor(spark, path)
    // a published stub under this name is finished business (see
    // [[publishedReceipt]]) — reclaim it and create fresh
    if (fs.exists(publishedReceipt(path, name)))
      fs.delete(new Path(new Path(path, BranchesDirName), name), true)
    if (listVersions(fs, path, Some(name)).nonEmpty) sys.error(
      s"branch '$name' already exists on $path — dropBranch first or " +
        "pick another name")
    val vs = listVersions(fs, path, None)
    require(vs.nonEmpty,
      s"cannot branch $path: no published snapshots (bootstrap the " +
        "lake first)")
    val base = fromVersion.getOrElse(vs.max)
    require(vs.contains(base),
      s"cannot branch $path at version $base: not a resolvable " +
        s"snapshot (retained: ${vs.sorted.mkString(", ")})")
    val m = readManifest(fs, path, base, branch = None)
    if (!tryPublishManifest(fs, path, m, Some(name))) sys.error(
      s"branch '$name' raced another creator on $path")
    // a racing creator at a DIFFERENT base could have published a
    // lower version into the namespace; the branch base is defined as
    // the namespace minimum, so surface the inconsistency loudly
    val minV = listVersions(fs, path, Some(name)).min
    if (minV != base) sys.error(
      s"branch '$name' on $path was created concurrently at version " +
        s"$minV — drop it and create once")
    base
  }

  /** The publish RECEIPT: written into the branch namespace after the
    * main-line publish commits and BEFORE the namespace is deleted, so
    * a crash between the two leaves a self-describing stub (receipt +
    * stale manifests) instead of a branch that looks live but whose
    * dirs now overlap main's. [[publishBranch]] treats a stub as
    * already-published (completes the cleanup, returns the recorded
    * version); [[createBranch]] reclaims it; [[branches]] never lists
    * it (its chain is on main — listing it would also make [[vacuum]]
    * pin the pre-publish intermediate files forever).
    */
  private def publishedReceipt(path: String, name: String): Path =
    new Path(new Path(new Path(path, BranchesDirName), name),
      "published.txt")

  /** All branches, `(name, base version)`, name-sorted. The base is
    * the branch namespace's minimum version (the bootstrap copy).
    * Published stubs (crashed cleanup — see [[publishedReceipt]]) and
    * dotted working directories (mid-rebase scratch) are not branches.
    */
  def branches(spark: SparkSession, path: String): Seq[(String, Long)] = {
    val fs = fsFor(spark, path)
    val dir = new Path(path, BranchesDirName)
    if (!fs.exists(dir)) Nil
    else fs.listStatus(dir).toSeq.filter(_.isDirectory)
      .map(_.getPath.getName).filterNot(_.startsWith(".")).sorted
      .filterNot(b => fs.exists(publishedReceipt(path, b)))
      .flatMap(b => listVersions(fs, path, Some(b)).minOption.map(b -> _))
  }

  /** PUBLISH: fast-forward the main line to the branch's staged state
    * — ONE manifest rename, zero data jobs (branch data files already
    * live in the shared partition directories; publishing just makes a
    * main manifest reference them). Concurrent main-line commits since
    * the branch base are merged in, not clobbered: the published
    * manifest carries main's state for every directory the branch did
    * not touch, and the branch's state for the directories it did — a
    * directory changed on BOTH sides since the base refuses loudly
    * (same dirSig vocabulary as the commit rebase), as does schema
    * evolution on both sides or a diverged merge-on-read key. Replay
    * guards merge per-writer to the MAX (neither line's streaming
    * batches can double-apply after the publish). Returns the new
    * main version; `drop` (default true) retires the branch namespace
    * after a successful publish.
    */
  def publishBranch(spark: SparkSession, path: String, name: String,
      drop: Boolean = true): Long = {
    requireRefName("branch", name)
    val fs = fsFor(spark, path)
    // a published STUB (crash between the receipt write and the
    // namespace delete): the publish already committed to main —
    // complete the cleanup and return the recorded version, a no-op
    // re-publish instead of a confusing overlap refusal
    val receipt = publishedReceipt(path, name)
    if (fs.exists(receipt)) {
      val v = readSmallTextFile(fs, receipt).trim.toLongOption.getOrElse(
        sys.error(s"branch '$name' on $path carries an unreadable " +
          s"publish receipt ($receipt) — inspect and dropBranch"))
      fs.delete(new Path(new Path(path, BranchesDirName), name), true)
      return v
    }
    val bvs = listVersions(fs, path, Some(name))
    if (bvs.isEmpty) sys.error(s"no branch '$name' on $path (branches: " +
      s"${branches(spark, path).map(_._1).mkString(", ")})")
    val leafCache =
      scala.collection.concurrent.TrieMap.empty[String, Seq[String]]
    val baseM = readManifest(fs, path, bvs.min, leafCache, Some(name))
    val bh = readManifest(fs, path, bvs.max, leafCache, Some(name))
    val branchTouched = changedDirs(Some(baseM), bh)
    var attempts = 0
    while (true) {
      val mh = latestManifest(fs, path, None).getOrElse(sys.error(
        s"manifest for $path vanished during publish"))
      val merged = mergeBranchOntoHead("publish", path, name, baseM, bh,
        branchTouched, mh)
      validateChecksOnDirs(spark, path, merged,
        branchTouched ++ changedDirs(Some(baseM), mh),
        merged.checks.filterNot(baseM.checks.contains), "publish", name)
      if (tryPublishManifest(fs, path, merged, None)) {
        if (drop) {
          // receipt BEFORE delete: a crash in between leaves a
          // self-describing stub a re-publish completes as a no-op
          val out = fs.create(receipt, true)
          try out.write(merged.version.toString.getBytes("UTF-8"))
          finally out.close()
          fs.delete(new Path(new Path(path, BranchesDirName), name), true)
        }
        return merged.version
      }
      attempts += 1
      require(attempts < 20,
        s"publish of branch '$name' lost the publish race $attempts " +
          "times — retry when the writer storm passes")
    }
    sys.error("unreachable")
  }

  /** The one merge arithmetic [[publishBranch]] and [[rebaseBranch]]
    * share: fold a branch's staged state (`baseM` -> `bh`, touching
    * `branchTouched`) onto a main-line head `mh`, producing the
    * manifest at `mh.version + 1`. Guards, in order:
    *
    *  - a directory changed on BOTH sides refuses (same dirSig
    *    vocabulary as the commit rebase);
    *  - COLUMN-ID REBINDS (rename/drop) are invisible to the
    *    norm-by-(name,type) schema comparison — a rename is a
    *    manifest-only commit (dirSigs unchanged), so a one-sided
    *    rename classifies as ordinary schema evolution, but the
    *    merged manifest would carry the renamed schema over the OTHER
    *    side's file entries, which lack physical-name pins for the
    *    rebound column and physically hold the old name (silent nulls
    *    — exactly what renameColumn's pinning exists to prevent).
    *    Detected per side against the base (same id, different name —
    *    drops tombstone the name, so they surface too; an id-less base
    *    compares via the deterministic assignment renameColumn would
    *    make). ONE rebound side is repaired by re-stamping the
    *    base-time physical name onto the un-rebound side's entries
    *    (whose name for that id IS the base name); BOTH refuse.
    *  - schema evolution on both sides refuses; one side's carries;
    *  - a rebind on one side with live merge-on-read deltas
    *    contributed by the other refuses (delta sidecars are name-only
    *    — they cannot be pinned);
    *  - diverged merge-on-read keys and diverged layouts refuse;
    *  - replay guards merge per-writer to the MAX.
    */
  private def mergeBranchOntoHead(op: String, path: String, name: String,
      baseM: Manifest, bh: Manifest, branchTouched: Set[String],
      mh: Manifest): Manifest = {
    def norm(s: StructType) = s.fields.toSeq.map(f => (f.name, f.dataType))
    val baseIdName: Map[Int, String] =
      baseM.columnIds.getOrElse(assignColumnIds(None, baseM.schema))
        .map(_.swap)
    def reboundIds(side: Manifest): Map[Int, String] = {
      val sideIdName = side.columnIds.getOrElse(Map.empty).map(_.swap)
      baseIdName.filter { case (id, n) => sideIdName.get(id).exists(_ != n) }
    }
    def stampPins(files: Map[String, Seq[FileEntry]],
        pins: Map[Int, String]): Map[String, Seq[FileEntry]] =
      if (pins.isEmpty) files
      else files.view.mapValues(_.map(e =>
        // an entry's OWN pins win: they record the true write-time
        // physical name (e.g. a pre-base rename the base already pinned)
        e.copy(physNames = pins ++ e.physNames))).toMap
    val branchRebound = reboundIds(bh)
    val mainRebound = reboundIds(mh)
    if (branchRebound.nonEmpty && mainRebound.nonEmpty) sys.error(
      s"cannot $op branch '$name' onto $path: column ids were " +
        s"re-bound (rename/drop) on BOTH the branch and the main line " +
        s"since the branch base v${baseM.version} — one side's column " +
        "evolution at a time (publish before renaming, or re-stage " +
        "the branch from the current head)")
    val mainTouched = changedDirs(Some(baseM), mh)
    val overlap = branchTouched intersect mainTouched
    if (overlap.nonEmpty) sys.error(
      s"cannot $op branch '$name' onto $path: partition(s) " +
        s"${overlap.toSeq.sorted.take(5).mkString(", ")} changed on " +
        s"BOTH the branch and the main line since the branch base " +
        s"v${baseM.version} — re-stage from the current head " +
        "(dropBranch, createBranch, re-apply) or drop the branch")
    // EXACT equality first: a metadata-only evolution (SET/DROP
    // DEFAULT) is invisible to the norm-by-(name,type) comparison, and
    // the norm-first ordering would silently drop the untouched side's
    // metadata change; both sides metadata-only refuses like any
    // two-sided evolution
    val (schema, colIds) =
      if (mh.schema == baseM.schema) (bh.schema, bh.columnIds)
      else if (bh.schema == baseM.schema) (mh.schema, mh.columnIds)
      else if (norm(mh.schema) == norm(baseM.schema) &&
          norm(bh.schema) == norm(baseM.schema)) sys.error(
        s"cannot $op branch '$name' onto $path: both the branch and " +
          s"the main line changed column METADATA (defaults) since " +
          s"the base v${baseM.version} — one side's evolution at a time")
      else if (norm(mh.schema) == norm(baseM.schema)) (bh.schema, bh.columnIds)
      else if (norm(bh.schema) == norm(baseM.schema)) (mh.schema, mh.columnIds)
      else sys.error(
        s"cannot $op branch '$name' onto $path: both the branch " +
          s"and the main line evolved the SCHEMA since the base " +
          s"v${baseM.version} — one side's evolution at a time")
    require(layoutOf(bh) == layoutOf(mh),
      s"cannot $op branch '$name' onto $path: partition layout " +
        "diverged between the branch and the main line")
    val mergedFiles = stampPins(mh.files -- branchTouched, branchRebound) ++
      stampPins(bh.files.view.filterKeys(branchTouched).toMap, mainRebound)
    val mergedDeltas = (mh.deltas -- branchTouched) ++
      bh.deltas.view.filterKeys(branchTouched).toMap
    if (branchRebound.nonEmpty && (mh.deltas -- branchTouched).nonEmpty ||
        mainRebound.nonEmpty &&
          bh.deltas.view.filterKeys(branchTouched).nonEmpty) sys.error(
      s"cannot $op branch '$name' onto $path: one side re-bound " +
        s"column ids (rename/drop) since the branch base " +
        s"v${baseM.version} while the other side carries live " +
        "merge-on-read deltas — delta sidecars cannot be " +
        "physical-name-pinned; compact the delta side first")
    val mor = (mh.mor, bh.mor) match {
      case (Some(a), Some(b)) if a != b => sys.error(
        s"cannot $op branch '$name' onto $path: merge-on-read " +
          s"keys diverged ('$a' vs '$b')")
      case (a, b) => if (mergedDeltas.nonEmpty) a.orElse(b) else None
    }
    val txns = (mh.txns.toSeq ++ bh.txns.toSeq)
      .groupMapReduce(_._1)(_._2)(math.max)
    // CHECK constraints merge like the schema: one side's change
    // carries, both sides changing refuses (a silently-preferred
    // constraint set would enforce different invariants than one of
    // the two writers just validated against). Constraints ADDED
    // since the base are re-validated by the caller against the dirs
    // changed since the base ([[validateChecksOnDirs]]) — the adding
    // side scanned only the data IT could see at add time, and the
    // merged line must not publish an invariant the other side's
    // concurrent rows already break.
    val checks =
      if (mh.checks == baseM.checks) bh.checks
      else if (bh.checks == baseM.checks) mh.checks
      else sys.error(
        s"cannot $op branch '$name' onto $path: both the branch and " +
          s"the main line changed CHECK constraints since the base " +
          s"v${baseM.version} — one side's evolution at a time")
    Manifest(mh.version + 1, schema, mergedFiles, txns,
      mergedDeltas, mor, layout = mh.layout.orElse(bh.layout),
      columnIds = colIds, checks = checks)
  }

  /** Re-validate CHECK constraints ADDED since a branch base against
    * the rows committed (on either line) since that base — the merge
    * counterpart of [[addCheckConstraint]]'s existing-data scan. Cost
    * is bounded by the since-base churn (`dirs`), never table size.
    */
  private def validateChecksOnDirs(spark: SparkSession, path: String,
      merged: Manifest, dirs: Set[String],
      newChecks: Seq[(String, String)], op: String, name: String): Unit = {
    if (newChecks.isEmpty || dirs.isEmpty) return
    val scoped = frameFor(spark, path, merged.copy(
      files = merged.files.view.filterKeys(dirs).toMap,
      deltas = merged.deltas.view.filterKeys(dirs).toMap))
    newChecks.foreach { case (n, sql) =>
      val bad = scoped.filter(
        !coalesce(org.apache.spark.sql.functions.expr(sql)
          .cast(org.apache.spark.sql.types.BooleanType), lit(true)))
        .limit(1).count()
      if (bad > 0) sys.error(
        s"cannot $op branch '$name' onto $path: rows committed since " +
          s"the branch base violate the newly-added CHECK constraint " +
          s"'$n' ($sql) — fix the rows first, or drop the constraint " +
          "(publishing would claim an invariant the merged table does " +
          "not hold)")
    }
  }

  /** REBASE a staged branch onto the current main head — the escape
    * hatch for long-lived audit branches against a hot main line,
    * which previously dead-ended in "dropBranch, createBranch,
    * re-apply every statement". Allowed exactly when [[publishBranch]]
    * would merge (main's changes since the branch base are DISJOINT
    * from the branch's touched directories — same arithmetic, same
    * refusal vocabulary on overlap); the branch namespace is REBUILT
    * as `head-copy (base) -> merged staged state`, so the staged chain
    * is SQUASHED into one commit on the new base (`#branches` shows
    * `staged_commits = 1` after a rebase). Zero data jobs: like
    * publish, this moves manifest references only.
    *
    * Crash windows: the rebuild happens in a dotted scratch namespace
    * (`.rebase-<name>-*`, invisible to [[branches]]/[[vacuum]]) and is
    * swapped in with delete-then-rename; a crash before the swap
    * leaves the branch untouched (stale scratch is reclaimed by the
    * next rebase of the same branch), a crash between delete and
    * rename loses the branch LOUDLY — the scratch namespace holding
    * the full rebased state is named in no error but survives for
    * manual recovery. Returns the new base version (= the main head
    * rebased onto).
    */
  def rebaseBranch(spark: SparkSession, path: String, name: String): Long = {
    requireMainLine("rebase_branch")
    requireRefName("branch", name)
    val fs = fsFor(spark, path)
    if (fs.exists(publishedReceipt(path, name))) sys.error(
      s"branch '$name' on $path was already published (crashed-cleanup " +
        "stub) — re-run publishBranch to complete the cleanup")
    val bvs = listVersions(fs, path, Some(name))
    if (bvs.isEmpty) sys.error(s"no branch '$name' on $path (branches: " +
      s"${branches(spark, path).map(_._1).mkString(", ")})")
    val leafCache =
      scala.collection.concurrent.TrieMap.empty[String, Seq[String]]
    val baseM = readManifest(fs, path, bvs.min, leafCache, Some(name))
    val bh = readManifest(fs, path, bvs.max, leafCache, Some(name))
    val branchTouched = changedDirs(Some(baseM), bh)
    val mh = latestManifest(fs, path, None).getOrElse(sys.error(
      s"manifest for $path vanished during rebase"))
    if (mh.version == baseM.version) return baseM.version // already based
    val merged = mergeBranchOntoHead("rebase", path, name, baseM, bh,
      branchTouched, mh)
    validateChecksOnDirs(spark, path, merged,
      branchTouched ++ changedDirs(Some(baseM), mh),
      merged.checks.filterNot(baseM.checks.contains), "rebase", name)
    // rebuild in a dotted scratch namespace, then swap
    val branchesRoot = new Path(path, BranchesDirName)
    // stale scratch from a crashed earlier rebase of THIS branch is
    // finished business — reclaim before building anew
    if (fs.exists(branchesRoot)) fs.listStatus(branchesRoot).toSeq
      .filter(st => st.isDirectory &&
        st.getPath.getName.startsWith(s".rebase-$name-"))
      .foreach(st => fs.delete(st.getPath, true))
    val scratch = s".rebase-$name-${UUID.randomUUID().toString.take(8)}"
    if (!tryPublishManifest(fs, path, mh, Some(scratch)) ||
        !tryPublishManifest(fs, path, merged, Some(scratch)))
      sys.error(s"rebase of branch '$name' on $path could not build " +
        "its scratch namespace — retry")
    val branchDir = new Path(branchesRoot, name)
    fs.delete(branchDir, true)
    if (!fs.rename(new Path(branchesRoot, scratch), branchDir)) sys.error(
      s"rebase of branch '$name' on $path crashed mid-swap: the branch " +
        s"namespace was removed but the rebased state survives at " +
        s"$branchesRoot/$scratch — rename it to $name to recover")
    mh.version
  }

  /** Drop a staged branch: the namespace goes, the branch's data files
    * (in the shared partition directories, referenced by nothing
    * anymore) become reclaimable by the next [[vacuum]]. Unknown
    * branches refuse — a misspelled drop must not silently succeed.
    */
  def dropBranch(spark: SparkSession, path: String, name: String): Unit = {
    requireRefName("branch", name)
    val fs = fsFor(spark, path)
    val dir = new Path(new Path(path, BranchesDirName), name)
    if (!fs.exists(dir)) sys.error(
      s"no branch '$name' on $path (branches: " +
        s"${branches(spark, path).map(_._1).mkString(", ")})")
    fs.delete(dir, true)
  }

  /** The `#files` metadata table's row shape — one row per live file
    * or delta sidecar of the resolved snapshot, straight from the
    * manifest (zero file-system reads beyond the manifest itself).
    */
  private[io] val filesSchema: StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("partition", StringType, nullable = false),
      StructField("file", StringType, nullable = false),
      StructField("kind", StringType, nullable = false), // data | delta
      StructField("bytes", LongType, nullable = true),
      StructField("rows", LongType, nullable = true),
      StructField("stats_cols", IntegerType, nullable = false)))
  }

  /** The `#constraints` metadata table's row shape — one row per
    * ENFORCED CHECK constraint of the addressed snapshot.
    */
  private[io] val constraintsSchema: StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("name", StringType, nullable = false),
      StructField("predicate", StringType, nullable = false)))
  }

  private[io] def constraintsFrameMeta(spark: SparkSession, path: String,
      version: Option[Long],
      branch: Option[String] = None): DataFrame = {
    val m = manifestAt(spark, path, version,
      resolveReadBranch(branch)).getOrElse(
      sys.error(s"no graft lake manifest at $path"))
    val rows = m.checks.map { case (n, sql) => Row(n, sql) }
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      constraintsSchema)
  }

  private[io] def filesFrameMeta(spark: SparkSession, path: String,
      version: Option[Long],
      branch: Option[String] = None): DataFrame = {
    val m = manifestAt(spark, path, version,
      resolveReadBranch(branch)).getOrElse(
      sys.error(s"no graft lake manifest at $path"))
    val rows =
      m.files.toSeq.sortBy(_._1).flatMap { case (d, es) =>
        es.sortBy(_.name).map(e => Row(d, e.name, "data",
          e.bytes.map(Long.box).orNull, e.rows.map(Long.box).orNull,
          e.stats.size + e.strStats.size))
      } ++ m.deltas.toSeq.sortBy(_._1).flatMap { case (d, ns) =>
        ns.sorted.map(n => Row(d, n, "delta", null, null, 0))
      }
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      filesSchema)
  }

  /** The `#partitions` metadata table's row shape — one row per
    * partition directory: file/delta counts, byte total, and the row
    * count under [[rowCount]]'s honesty contract (null when any file
    * predates footer harvesting or deltas make the count unknowable).
    */
  private[io] val partitionsSchema: StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("partition", StringType, nullable = false),
      StructField("n_files", IntegerType, nullable = false),
      StructField("n_deltas", IntegerType, nullable = false),
      StructField("bytes", LongType, nullable = true),
      StructField("rows", LongType, nullable = true)))
  }

  private[io] def partitionsFrameMeta(spark: SparkSession, path: String,
      version: Option[Long],
      branch: Option[String] = None): DataFrame = {
    val m = manifestAt(spark, path, version,
      resolveReadBranch(branch)).getOrElse(
      sys.error(s"no graft lake manifest at $path"))
    val rows = allDirs(m).toSeq.sorted.map { d =>
      val es = m.files.getOrElse(d, Nil)
      val nDeltas = m.deltas.getOrElse(d, Nil).size
      val bytes: Any =
        if (es.forall(_.bytes.isDefined))
          Long.box(es.iterator.map(_.bytes.get).sum)
        else null
      // a dirty partition's post-merge count is unknowable from
      // metadata (deltas both delete and insert) — null, never a guess
      val rowsN: Any =
        if (nDeltas == 0 && es.forall(_.rows.isDefined))
          Long.box(es.iterator.map(_.rows.get).sum)
        else null
      Row(d, es.size, nDeltas, bytes, rowsN)
    }
    spark.createDataFrame(
      new java.util.ArrayList[Row](
        scala.jdk.CollectionConverters.SeqHasAsJava(rows).asJava),
      partitionsSchema)
  }

  /** Resolve a tag to its pinned version, if it exists. Refuses under
    * an ambient branch: a tag pins a MAIN-line version number, and
    * resolving it against a branch namespace whose own numbering
    * happens to contain that version would silently read different
    * data — the one ambient-branch shape that could fail wrong rather
    * than loud.
    */
  def tagVersion(spark: SparkSession, path: String,
      name: String): Option[Long] = {
    requireMainLine(s"tag resolution ('$name')")
    val fs = fsFor(spark, path)
    val f = new Path(tagsDir(path), s"$name.txt")
    if (fs.exists(f)) readSmallTextFile(fs, f).trim.toLongOption else None
  }

  /** The tagged snapshot, whole — `readVersion` addressed by name. */
  def readTag(spark: SparkSession, path: String, name: String): DataFrame =
    readVersion(spark, path, tagVersion(spark, path, name).getOrElse(
      sys.error(s"no tag '$name' on $path (tags: " +
        s"${tags(spark, path).map(_._1).mkString(", ")})")))

  /** The distinct partition tuples a batch touches: `frame`'s `cols`
    * (the writer's partition columns, or the aliases they travel under)
    * collected under the LAKE's partition-column types, not the frame's
    * — [[dirsOf]] must render directory names exactly as the base data's
    * were, and the [[partitionFilter]] literals must compare without
    * implicit coercion. Metadata cardinality (partition count, not row
    * count): the one sanctioned driver-side read of a batch, so `frame`
    * should be the writer's pinned batch.
    */
  private def touchedParts(m: Manifest, partitionCols: Seq[String],
      frame: DataFrame, cols: Seq[String]): Array[Seq[Any]] =
    frame.select(cols.zip(partitionCols).map { case (a, c) =>
        col(a).cast(m.schema(c).dataType) }: _*)
      .distinct().collect().map(_.toSeq)

  /** The directories of `parts` in `m`'s layout, as Spark's writer
    * renders them ([[sparkDirsFor]]) — the replaced set of a commit that
    * rewrites those partitions, emptied ones included.
    */
  private def dirsOf(spark: SparkSession, m: Manifest,
      partitionCols: Seq[String], parts: Array[Seq[Any]]): Set[String] =
    sparkDirsFor(spark, StructType(partitionCols.map(c => m.schema(c))),
      parts)

  /** Partition-pruning filter over the collected partition values.
    * `isin` is null-hostile (NULL isin(...) is never true), so a delta
    * touching the null partition (__HIVE_DEFAULT_PARTITION__) needs an
    * explicit isNull arm — otherwise surviving base rows in that
    * directory are excluded from the merge and the commit would replace
    * it with delta-only rows, silently dropping data.
    */
  private def partitionFilter(partitionCols: Seq[String],
      parts: Array[Seq[Any]]): org.apache.spark.sql.Column =
    if (partitionCols.size == 1) {
      // single-column fast path: one isin instead of an OR chain
      val values = parts.map(_.head)
      val (nullParts, realParts) = values.partition(_ == null)
      if (nullParts.isEmpty)
        col(partitionCols.head).isin(realParts.toIndexedSeq: _*)
      else if (realParts.isEmpty) col(partitionCols.head).isNull
      else col(partitionCols.head).isin(realParts.toIndexedSeq: _*) ||
        col(partitionCols.head).isNull
    } else {
      // tuple membership as OR of null-safe conjunctions; the touched
      // tuple count is batch-bounded by contract, so the predicate stays
      // small and each conjunct prunes at the partition index
      parts.map { tuple =>
        partitionCols.zip(tuple).map { case (c, v) =>
          if (v == null) col(c).isNull else col(c) <=> lit(v)
        }.reduce(_ && _)
      }.reduce(_ || _)
    }

  /** SCD-type-1 upsert — MERGE where the row identity is the COMPOSITE
    * `(partitionCol, keyCol)`: within each partition the delta wins by
    * key, everything else is kept — rewriting ONLY the partitions the
    * delta touches:
    *
    *  1. the delta is pinned once (`localCheckpoint`) and its distinct
    *     partition values are collected off the pin ([[touchedParts]]) —
    *     metadata cardinality (partition count, not row count), the one
    *     sanctioned driver-side read;
    *  2. the base is read with a filter on those values, so partition
    *     pruning keeps every untouched directory's bytes unread;
    *  3. surviving base rows (left anti on the key) union the delta and
    *     are committed through the snapshot protocol above — untouched
    *     partitions' manifest entries (and files) carry over verbatim.
    *
    * At 100 TB the rewrite cost scales with the delta's partition
    * footprint, not the table size. The commit never overwrites a file
    * the merge plan reads (new files land under fresh names; the old
    * ones are only de-referenced), so the base side stays lazy.
    *
    * The delta is evaluated ONCE: it is pinned (`localCheckpoint`) and
    * the partition collect, the key anti-join and the staged write all
    * read the pin, so even a nondeterministic delta (a bare `limit`
    * sample, `rand`) anti-joins the same key set it unions; the
    * staged-vs-collected directory check below stays as the refusal of
    * record. CONTRACT: a key's partition value must be stable (the usual
    * case — the partition derives from the row's identity, e.g. event
    * date). A delta that MOVES a key to a different partition upserts
    * into the new partition but cannot retire the old partition's row —
    * finding it would need a full-table key scan, which is exactly the
    * cost manifest-based formats exist to avoid. Callers needing
    * cross-partition moves must delete from the old partition explicitly.
    *
    * `batchId` (pass the `foreachBatch` id) arms the TRANSACTION-level
    * replay guard ([[headFor]]): the committed manifest records the
    * highest id folded in, and a redelivered batch with `id <= recorded`
    * is skipped whole — exactly-once even where the value-level merge
    * would not be idempotent. Without it the key-merge idempotence is the
    * (weaker, still spec-pinned) safety net.
    *
    * Schema evolution is ADDITIVE ([[evolvedSchema]]): a delta may carry
    * new columns (the whole lake surfaces them, nulls for untouched
    * rows) or omit base columns (nulls); a column present in both sides
    * must keep its type. Old snapshots time-travel under their own
    * schema. A delta that LOOKS like a rename refuses loudly.
    */
  def upsert(spark: SparkSession, path: String, partitionCol: String,
      keyCol: String, delta: DataFrame, statsCols: Seq[String] = Nil,
      batchId: Option[Long] = None,
      writerId: String = DefaultWriter): Unit =
    upsert(spark, path, Seq(partitionCol), keyCol, delta, statsCols, batchId,
      writerId)

  /** Multi-level variant: row identity is `(partitionCols..., keyCol)`.
    * `writerId` names the replay-guard slot the batch ids belong to —
    * give each independent streaming query its own id so concurrent
    * writers' guards never interfere.
    */
  def upsert(spark: SparkSession, path: String, partitionCols: Seq[String],
      keyCol: String, delta: DataFrame, statsCols: Seq[String],
      batchId: Option[Long], writerId: String): Unit = {
    val fs = fsFor(spark, path)
    val head = headFor(spark, fs, path, partitionCols, batchId, writerId,
      "upsert") match {
      case Some(h) => h
      case None => return
    }
    // bootstrap: an absent lake is just the delta (lets the same call
    // serve as a streaming foreachBatch sink from batch zero)
    if (head.isEmpty) {
      requireBootstrapSafe(fs, path, partitionCols)
      val (staging, staged) = stage(spark, fs, path, delta, partitionCols,
        statsCols)
      commitStaged(fs, path, staging, staged, staged.keySet, delta.schema,
        None, batchId, writerId = writerId,
        bootstrapLayout = Some(partitionCols))
      return
    }
    val m = head.get
    val unionSchema = evolvedSchema(m.schema, delta.schema, "delta")
    // ONE evaluation of the caller's delta: the partition collect, the
    // anti-join key set and the union arm all read the pin
    val deltaM = delta.localCheckpoint()
    val parts = touchedParts(m, partitionCols, deltaM, partitionCols)
    if (parts.isEmpty) return
    val base = frameFor(spark, path, m)
      .filter(partitionFilter(partitionCols, parts))
    // null-safe on the partition columns (the identity's partition half
    // may legitimately be the null partition); keys are assumed non-null
    val dk = deltaM.select(partitionCols.zipWithIndex.map { case (c, i) =>
      col(c).as(s"__dp$i") } :+ col(keyCol).as("__dk"): _*)
    val joinCond = partitionCols.zipWithIndex.map { case (c, i) =>
      col(c) <=> col(s"__dp$i") }.reduce(_ && _) &&
      col(keyCol) === col("__dk")
    val merged = alignTo(base.join(dk, joinCond, "left_anti"), unionSchema)
      .unionByName(alignTo(deltaM, unionSchema))
    val (staging, staged) = stage(spark, fs, path, merged, partitionCols,
      stickyStats(head, statsCols, unionSchema.fieldNames.toSeq))
    // every touched tuple has >= 1 delta row and the merge keeps all
    // delta rows, so the staged directory set must equal the collected
    // tuples' Spark-rendered names. The render works off the COLLECTED
    // tuples, independently of the staged evaluation, which is the
    // backstop for the deterministic-delta contract above: a delta that
    // evaluated to different partitions between the collect and the
    // staged write diverges here and the commit REFUSES — without this,
    // such a delta would silently de-reference a partition it never
    // merged (data loss), not just mis-merge.
    val replaced = dirsOf(spark, m, partitionCols, parts)
    if (staged.keySet != replaced) {
      fs.delete(staging, true)
      sys.error("delta evaluated nondeterministically between the " +
        s"partition collect and the staged write (collected: " +
        s"${replaced.mkString(", ")}; staged: " +
        s"${staged.keySet.mkString(", ")}) — materialize the delta " +
        "first (see the upsert determinism contract); refusing to commit")
    }
    commitStaged(fs, path, staging, staged, replaced, merged.schema,
      head, batchId, writerId = writerId)
  }

  /** Exactly-once streaming CDC sink: fold one micro-batch of a CDC op
    * log into the lake — `foreachBatch(PartitionedLake.cdcSink(spark,
    * path, part, key, value, _))` is the whole Debezium-consumer loop.
    *
    * `ops` carries [[graft.operators.RelationalOps.cdcApply]]'s columns
    * (`k`, `seq`, `op`, `val`) plus the key's `partitionCol` value. Per
    * batch: fold the ops latest-wins per COMPOSITE identity
    * `(partitionCol, k)` — the same identity as [[upsert]] — and pin the
    * fold, so the batch is scanned once; prune the base to the touched
    * partitions (the same metadata-only driver read as [[upsert]], off
    * the pin); apply the fold — 'D' drops, 'U' overwrites, ops on absent
    * identities are ignored — and commit the corrected slice through the
    * snapshot protocol; the manifest rename makes the whole batch visible
    * atomically.
    *
    * NOT [[upsert]], deliberately: upsert's key-anti-join MERGE can only
    * add or replace rows, so a delete op could never retire its row — a
    * delete-capable CDC fold must rewrite the touched partitions
    * wholesale. A partition whose rows are ALL deleted simply drops out
    * of the new manifest (its directory name comes from Spark's own
    * writer-path rendering — see [[sparkDirsFor]] — so exotic partition
    * values retire correctly); the directory itself stays on disk for pinned readers,
    * time travel, and [[changesBetween]] pre-images until [[vacuum]].
    *
    * Idempotent under micro-batch replay (the foreachBatch redelivery
    * contract): 'U' re-applies to the same value, a replayed 'D' finds
    * no row, and within one batch `cdcApply`'s latest-wins collapse
    * orders replayed ops by `seq`. Ops are ordered by `seq` within a
    * batch ONLY: across batches the source's order stands, so a stale
    * op arriving in a later batch than its successor overwrites it.
    * Same key-partition stability contract as [[upsert]].
    */
  def cdcSink(spark: SparkSession, path: String, partitionCol: String,
      keyCol: String, valueCol: String, ops: DataFrame,
      batchId: Option[Long] = None,
      writerId: String = DefaultWriter): Unit =
    cdcSink(spark, path, Seq(partitionCol), keyCol, valueCol, ops, batchId,
      writerId)

  /** The columns a folded op frame carries its partition values under. */
  private def opAliases(partitionCols: Seq[String]): Seq[String] =
    partitionCols.indices.map(i => s"__cdc_p$i")

  /** `ops` folded latest-wins per (declared partition tuple, key):
    * columns `__cdc_p0..`, `__cdc_k`, `__cdc_op`, `__cdc_val`.
    */
  private def latestOps(ops: DataFrame, partitionCols: Seq[String]): DataFrame = {
    val pAliases = opAliases(partitionCols)
    ops
      .select(partitionCols.zip(pAliases).map { case (c, a) =>
        col(c).as(a) } ++ Seq(col("k").as("__cdc_k"),
        col("seq").as("__cdc_seq"), col("op").as("__cdc_op"),
        col("val").as("__cdc_val")): _*)
      .withColumn("__cdc_rn", org.apache.spark.sql.functions.row_number()
        .over(org.apache.spark.sql.expressions.Window
          .partitionBy((pAliases :+ "__cdc_k").map(col): _*)
          .orderBy(col("__cdc_seq").desc)))
      .filter(col("__cdc_rn") === 1).drop("__cdc_rn", "__cdc_seq")
  }

  /** The op frame's `val` column must carry EXACTLY the lake column's
    * type: the fold's when(U, val).otherwise(col) would otherwise
    * COERCE (long + double -> double) and the widened snapshot schema
    * would fail against untouched partitions' old files at read time —
    * the same lake-poisoning failure [[evolvedSchema]] refuses, applied
    * to both CDC sinks.
    */
  private def requireValType(m: Manifest, valueCol: String,
      ops: DataFrame): Unit = {
    val lakeType = m.schema(valueCol).dataType
    val opType = ops.schema("val").dataType
    require(opType == lakeType,
      s"op 'val' type ${opType.simpleString} must equal lake column " +
        s"'$valueCol' type ${lakeType.simpleString} — cast the op log " +
        "before sinking (a coerced fold would widen the snapshot schema " +
        "out from under untouched partitions' files)")
  }

  /** The join of lake rows to the folded op naming their identity —
    * null-safe on the partition half.
    */
  private def foldCond(partitionCols: Seq[String], keyCol: String): Column =
    partitionCols.zip(opAliases(partitionCols)).map { case (c, a) =>
      col(c) <=> col(a) }.reduce(_ && _) && col(keyCol) === col("__cdc_k")

  /** Apply a folded op set to the current rows: 'D' drops the identity's
    * row, 'U' overwrites `valueCol`, ops on absent identities are
    * ignored.
    */
  private def applyFold(current: DataFrame, latest: DataFrame,
      partitionCols: Seq[String], keyCol: String,
      valueCol: String): DataFrame =
    current
      .join(latest, foldCond(partitionCols, keyCol), "left")
      .filter(col("__cdc_op").isNull || col("__cdc_op") =!= "D")
      .withColumn(valueCol, org.apache.spark.sql.functions
        .when(col("__cdc_op") === "U", col("__cdc_val"))
        .otherwise(col(valueCol)))
      .drop(opAliases(partitionCols) ++ Seq("__cdc_k", "__cdc_op",
        "__cdc_val"): _*)

  /** Multi-level variant: ops declare every partition column; identity is
    * `(partitionCols..., k)`.
    */
  def cdcSink(spark: SparkSession, path: String, partitionCols: Seq[String],
      keyCol: String, valueCol: String, ops: DataFrame,
      batchId: Option[Long], writerId: String): Unit = {
    val fs = fsFor(spark, path)
    // absent lake: update/delete ops have nothing to apply to (cdcApply
    // is update/delete-on-existing; q131's SCD-2 merge covers inserts)
    val m = headFor(spark, fs, path, partitionCols, batchId, writerId,
      "cdcSink") match {
      case Some(Some(h)) => h
      case _ => return
    }
    requireValType(m, valueCol, ops)
    // composite-identity fold — (partitions..., key), same identity as
    // [[upsert]]: latest op per identity wins, applied only to the row
    // in the op's DECLARED partition. The key-only
    // [[graft.operators.RelationalOps.cdcApply]] coincides with this
    // when keys are globally unique (the Debezium primary-key reality),
    // but a key reused across partitions must not cross-apply — the
    // LakeModelSpec random-op model caught exactly that: a delete
    // declared in one partition retiring the same key's row in another.
    // Pinned: the touched tuples and the fold read the batch once
    // (latestOps keeps ≥1 row per (partition, key), so its tuple set
    // equals the raw ops').
    val latest = latestOps(ops, partitionCols).localCheckpoint()
    val parts =
      touchedParts(m, partitionCols, latest, opAliases(partitionCols))
    if (parts.isEmpty) return // empty micro-batch
    val base = frameFor(spark, path, m)
      .filter(partitionFilter(partitionCols, parts))
    val corrected = applyFold(base, latest, partitionCols, keyCol, valueCol)
    val (staging, staged) = stage(spark, fs, path, corrected, partitionCols,
      stickyStats(Some(m), Nil, corrected.schema.fieldNames.toSeq))
    // the fold can EMPTY a partition (all rows deleted), which stages
    // nothing for its directory — the replaced set renders the touched
    // tuples ([[dirsOf]]), so even an emptied partition's manifest entry
    // retires under Spark's own path rendering. Emptied directories stay
    // on disk for pinned readers / time travel / change-feed pre-images
    // until [[vacuum]].
    commitStaged(fs, path, staging, staged,
      dirsOf(spark, m, partitionCols, parts), corrected.schema, Some(m),
      batchId, writerId = writerId)
  }

  /** Merge-on-read CDC sink — the same fold semantics as [[cdcSink]]
    * (latest op per composite identity wins; 'D' drops, 'U' overwrites
    * `valueCol`, ops on absent identities are ignored) with a different
    * write-amplification contract: base data files are NEVER rewritten.
    * Each batch rewrites only the touched partitions' DELTA sidecars —
    * row-level correction logs holding 'U' post-images and 'D' key
    * tombstones — merged at read by [[read]]/[[readVersion]] (anti-join
    * on the `(partition tuple, key)` identity, then union of the
    * post-images) and materialized away by [[compact]].
    *
    * Per-batch rewrite bytes therefore scale with the ACCUMULATED
    * changed-key count per touched partition since its last compaction,
    * not with partition size — the cost cliff copy-on-write hits on a
    * high-churn 100 TB lake (every batch re-writes every touched
    * partition wholesale) is exactly what this path removes. The read
    * tax is one anti-join over the dirty partitions, which routine
    * [[compact]] keeps small (and AQE broadcasts). This is Hudi's
    * merge-on-read / Delta deletion-vector design point, chosen here as
    * per-partition correction logs rather than per-file vectors: the
    * log carries post-images, so updates need no new base files and no
    * file-ordering bookkeeping — a commit replaces the touched
    * partitions' logs atomically through the same manifest protocol.
    *
    * Per batch: the latest-wins fold is pinned (the batch is scanned
    * once); ONE partition-pruned pass over the touched merged view
    * (base ⊕ old log) keeps the rows whose identity the batch names — a
    * semi-join against a BROADCAST of the batch's identities, so the
    * big side is never shuffled — and is pinned. The fold turns that
    * pass into 'U' post-images, and each applied identity with no
    * surviving row becomes a 'D' tombstone; ops on absent identities
    * apply to nothing and log nothing. Those entries go to
    * [[publishMorLog]], the log publish [[commitRowLevelDeltas]] shares:
    * it carries the touched partitions' old-log entries the batch does
    * not name, runs the log governor and commits. Same replay/idempotence
    * contracts as [[cdcSink]], including the `batchId` transaction guard.
    */
  def cdcSinkMergeOnRead(spark: SparkSession, path: String,
      partitionCol: String, keyCol: String, valueCol: String,
      ops: DataFrame, batchId: Option[Long] = None,
      writerId: String = DefaultWriter): Unit =
    cdcSinkMergeOnRead(spark, path, Seq(partitionCol), keyCol, valueCol,
      ops, batchId, writerId)

  /** Multi-level variant: ops declare every partition column. */
  def cdcSinkMergeOnRead(spark: SparkSession, path: String,
      partitionCols: Seq[String], keyCol: String, valueCol: String,
      ops: DataFrame, batchId: Option[Long], writerId: String): Unit = {
    val fs = fsFor(spark, path)
    val m = headFor(spark, fs, path, partitionCols, batchId, writerId,
      "cdcSinkMergeOnRead") match {
      case Some(Some(h)) => h
      case _ => return
    }
    require(m.mor.forall(_ == keyCol),
      s"this lake's merge-on-read deltas are keyed by '${m.mor.get}'; " +
        s"cannot fold ops keyed by '$keyCol'")
    requireValType(m, valueCol, ops)
    val pAliases = opAliases(partitionCols)
    val latest = latestOps(ops, partitionCols).localCheckpoint()
    val parts = touchedParts(m, partitionCols, latest, pAliases)
    if (parts.isEmpty) return
    val ident = partitionCols :+ keyCol
    val opIds = latest.select((pAliases.zip(partitionCols).map {
      case (a, c) => col(a).cast(m.schema(c).dataType).as(s"__op_$c") } :+
      col("__cdc_k").as(s"__op_$keyCol")).toIndexedSeq: _*)
    // the ONE pass over the touched merged view (base ⊕ old log, both
    // partition-pruned) probes a BROADCAST of the batch's identities: an
    // identity intersect over the touched rows would shuffle the whole
    // touched footprint per batch, a term that grows with data size,
    // not batch size (an sf1 batch: 15.7 s intersect, 13.2 s broadcast)
    val applied = frameFor(spark, path, m)
      .filter(partitionFilter(partitionCols, parts))
      .join(broadcast(opIds),
        ident.map(c => col(c) <=> col(s"__op_$c")).reduce(_ && _),
        "left_semi")
      .localCheckpoint()
    val postImages = applyFold(applied, latest, partitionCols, keyCol,
      valueCol).withColumn(MorOpCol, lit("U"))
    val tombstones = applied
      .join(latest.filter(col("__cdc_op") === "D"),
        foldCond(partitionCols, keyCol), "left_semi")
      .select(ident.map(col).toIndexedSeq: _*).distinct()
      .withColumn(MorOpCol, lit("D"))
    publishMorLog(spark, fs, path, m, partitionCols, keyCol, parts,
      postImages.unionByName(alignTo(tombstones, logSchemaOf(m))), batchId,
      writerId)
  }

  /** Publish new merge-on-read log entries for the touched partitions
    * `parts` — the ONE definition of what a partition's delta log holds,
    * shared by [[cdcSinkMergeOnRead]] and [[commitRowLevelDeltas]].
    * `entries` are full-schema rows plus [[MorOpCol]]: 'U' post-images
    * and 'D' identity tombstones (other columns null). The log is
    * SELF-CONTAINED per partition: each touched partition's new log is
    * its new entries plus the old log's entries whose identity the new
    * ones do not name (one anti-join over [[deltaScan]]), so an identity
    * ever touched stays in the log — 'U' with its latest post-image or
    * 'D' — until [[compact]].
    *
    * The staged log then passes the governor ([[morLogGovern]] — the
    * staged counts ARE the post-commit accumulation, since every touched
    * partition's whole log is staged) and commits through the standard
    * protocol: base data files are NEVER rewritten, racing commits into a
    * touched partition's log conflict via the dirSig check, time travel
    * keeps the pre-image; offending partitions auto-compact after. A
    * duplicate-identity refusal raised inside the staging job
    * (`raise_error`, see [[MorDupIdentityTag]]) — nothing has committed
    * then, and stage() removed its directory — is lifted out of Spark's
    * job-abort layers to the top, keeping the job failure as its cause.
    */
  private def publishMorLog(spark: SparkSession, fs: FileSystem,
      path: String, head: Manifest, partitionCols: Seq[String],
      keyCol: String, parts: Array[Seq[Any]], entries: DataFrame,
      batchId: Option[Long], writerId: String): Unit = {
    val ident = partitionCols :+ keyCol
    val carried = deltaScan(spark, path, head)
      .filter(partitionFilter(partitionCols, parts))
      .join(entries.select(ident.map(c =>
        col(c).as(s"__f_$c")).toIndexedSeq: _*), ident.map(c =>
        col(c) <=> col(s"__f_$c")).reduce(_ && _), "left_anti")
    val newLog = entries.unionByName(carried)
      .select((head.schema.fieldNames :+ MorOpCol).map(col).toIndexedSeq: _*)
    val (logStaging, stagedLog) = try {
      stage(spark, fs, path, newLog, partitionCols, Nil)
    } catch { case t: Throwable =>
      morDupRefusal(t).foreach(msg => throw new IllegalStateException(msg, t))
      throw t
    }
    val autoCompact = morLogGovern(fs, path, logStaging, stagedLog)
    commitStaged(fs, path, logStaging, Map.empty, Set.empty, head.schema,
      Some(head), batchId, stagedDeltas = stagedLog,
      deltaStaging = Some(logStaging), morKey = Some(keyCol),
      replacedDeltas = Some(dirsOf(spark, head, partitionCols, parts)),
      writerId = writerId)
    if (autoCompact.nonEmpty)
      compactRestricted(spark, path, Nil, Some(autoCompact))
  }

  /** Commit a SQL row-level operation's typed ops as merge-on-read
    * delta sidecars ([[graft.io.LakeDeltaWrite]] — the
    * `SupportsDelta` counterpart of [[commitReplaceData]]). `opsDir`
    * holds the writer tasks' flat parquet op files: full-schema rows
    * plus [[MorOpCol]] — `'U'` post-images (inserts, and the insert
    * half of split updates) and `'D'` identity tombstones (deletes,
    * and the delete half). The fold:
    *
    *  1. refuse AMBIGUITY — two different 'U' post-images for one
    *     `(partition, key)` identity (e.g. a MERGE inserting the same
    *     key twice) cannot both be the row; the refusal rides the
    *     staging job in-plan and [[publishMorLog]] lifts it;
    *  2. re-unify split updates — for one identity, 'U' wins over 'D'
    *     (delete + insert of the same identity IS the update; a
    *     cross-partition move keeps both, in different partitions'
    *     logs);
    *  3. refuse SILENT COLLAPSE — a post-image landing on an existing
    *     identity the statement did not consume (see below);
    *  4. hand the folded ops to [[publishMorLog]], the log publish
    *     [[cdcSinkMergeOnRead]] shares: it carries the touched
    *     partitions' old-log entries the statement did not touch, runs
    *     the governor and commits — base data files are NEVER
    *     rewritten.
    *
    * Every join below is op/log-sized (statement ops + the touched
    * partitions' accumulated logs) — never data-sized; the commit's
    * write bytes are O(changed rows + carried log), the merge-on-read
    * design point. Tombstones for identities that exist only in base
    * files stay in the log until [[compact]] materializes them away.
    */
  private[io] def commitRowLevelDeltas(spark: SparkSession, path: String,
      pinned: Manifest, partitionCols: Seq[String], keyCol: String,
      opsDir: Path, opsFiles: Seq[String],
      partsHint: Option[Array[Seq[Any]]] = None,
      suspectsHint: Option[Long] = None,
      uOpsHint: Option[Long] = None): Unit = {
    val fs = fsFor(spark, path)
    try {
      // read ONLY the files committed attempts reported — never a
      // directory glob, which would also sweep up a zombie/speculative
      // attempt's leftover (duplicate ops would trip the one-row-per-
      // identity refusal on a correct statement; a truncated file would
      // fail the read)
      val ops = spark.read.schema(logSchemaOf(pinned)).parquet(
        opsFiles.map(f => new Path(opsDir, f).toString): _*)
      val ident = partitionCols :+ keyCol
      // ZERO summary jobs on the SQL path (round 19; round 18 had one):
      // the touched partition tuples and the conservative suspect count
      // arrive in the writer attempts' commit receipts (partsHint /
      // suspectsHint — LakeDeltaTaskResult), and the per-identity dup-U
      // refusal moves INTO the staging job as a window count + in-plan
      // raise_error (the window partitions by the same identity the old
      // anti-join shuffled, so the fold's plan shape is unchanged; the
      // window ALSO serves the 'U'-wins-over-'D' re-unification, which
      // deletes that anti-join outright). Direct callers without
      // receipts (the spec's zombie/race paths) pay one small
      // op-frame job per hint instead.
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(ident.map(col).toIndexedSeq: _*)
      val opsW = ops
        .withColumn("__u_cnt", count(when(col(MorOpCol) === "U", 1)).over(w))
        .withColumn("__d_cnt", count(when(col(MorOpCol) === "D", 1)).over(w))
      val parts = partsHint.getOrElse(
        touchedParts(pinned, partitionCols, ops, partitionCols))
      if (parts.isEmpty) return
      val suspects = suspectsHint.getOrElse(
        opsW.filter(col("__u_cnt") > 0 && col("__d_cnt") === 0)
          .limit(1).count())
      // split updates re-unify: 'U' wins over 'D' for one identity
      // (window count == 0 ⇔ the old anti-join kept the tombstone; the
      // window's null-key grouping matches the old <=> join), and the
      // one-row-per-identity refusal rides the same window in-plan —
      // it fires inside the staging job, before anything commits
      val dupMsg = concat(
        lit(MorDupIdentityTag +
          "row-level delta write produced more than one post-image " +
          "for the same (partition, key) identity — e.g. ("),
        concat_ws(", ", ident.map(c =>
          coalesce(col(c).cast("string"), lit("null"))).toIndexedSeq: _*),
        lit(s") — the lake's $MorDupIdentityRefusal; dedupe the source " +
          "(or use " +
          s"${graft.io.LakeDeltaRowLevel.ModeKey}=" +
          s"${graft.io.LakeDeltaRowLevel.CopyOnWrite} for keyless " +
          "multiset semantics)"))
      // a statement with ZERO post-images (pure DELETE — the receipts
      // say so exactly) needs no identity grouping at all: no dup-U to
      // refuse, no 'U'-wins re-unification, every tombstone carries —
      // the fold is the op set verbatim and the window's exchange+sort
      // drops out of the staging job entirely
      val folded = if (uOpsHint.contains(0L)) ops
      else opsW
        .filter(col(MorOpCol) === "U" ||
          (col(MorOpCol) === "D" && col("__u_cnt") === 0))
        .filter(when(col(MorOpCol) === "U" && col("__u_cnt") > 1,
          raise_error(dupMsg)).otherwise(lit(true)))
        .drop("__u_cnt", "__d_cnt")
      // refuse SILENT COLLAPSE: a post-image whose identity the
      // statement did not itself consume (no raw 'D' — i.e. not the
      // insert half of a split update on that identity) but which
      // EXISTS in the current merged view would upsert over an
      // untouched row at read time, diverging from copy-on-write's
      // multiset result for the identical statement (e.g. UPDATE
      // reassigning k to a value another row already holds, or a MERGE
      // insert landing on an occupied identity). Detect and refuse, so
      // the two modes agree wherever both succeed. Cost-gated: in-place
      // updates and deletes produce an empty suspicious set (op-sized
      // check only) and skip the data probe; when the probe runs it is
      // partition-pruned, identity-projected, and semi-joins against a
      // BROADCAST of statement-bounded identities — a read, never a
      // rewrite.
      if (suspects > 0L) {
        // the EXACT suspicious set (a task-side suspects hint may
        // overcount, gating a probe that then finds this set empty —
        // cost, never correctness); semi-join build tolerates the
        // duplicate idents a dup-U statement would carry (it is headed
        // for the in-plan refusal regardless)
        val suspR = opsW
          .filter(col(MorOpCol) === "U" && col("__d_cnt") === 0)
          .select(ident.map(c => col(c).as(s"__s_$c")).toIndexedSeq: _*)
        val collided = frameFor(spark, path, pinned)
          .filter(partitionFilter(partitionCols, parts))
          .select(ident.map(col).toIndexedSeq: _*)
          .join(broadcast(suspR), ident.map(c =>
            col(c) <=> col(s"__s_$c")).reduce(_ && _), "left_semi")
          .take(3)
        require(collided.isEmpty,
          "row-level delta write would UPSERT over existing rows the " +
            "statement did not touch — post-image identities " +
            collided.mkString(", ") + " already exist in the table, " +
            "and silently collapsing them would diverge from the " +
            "copy-on-write result for the same statement; rewrite the " +
            "statement to not collide (or use " +
            s"${graft.io.LakeDeltaRowLevel.ModeKey}=" +
            s"${graft.io.LakeDeltaRowLevel.CopyOnWrite} for multiset " +
            "semantics)")
      }
      publishMorLog(spark, fs, path, pinned, partitionCols, keyCol, parts,
        folded, None, DefaultWriter)
    } finally fs.delete(opsDir, true)
  }
}
