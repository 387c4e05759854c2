package graft.io

import java.util

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.NoSuchTableException
import org.apache.spark.sql.connector.catalog.{Identifier, SupportsRead, Table, TableCapability, TableCatalog, TableProvider}
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.expressions.aggregate.{Aggregation, CountStar, Max, Min}
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, LocalScan, SupportsPushDownAggregates, SupportsPushDownFilters, SupportsPushDownRequiredColumns, V1Scan}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources.{BaseRelation, DataSourceRegister, Filter, TableScan}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The ONE plan fingerprint for "this query was answered from manifest
  * metadata, zero data files opened": a LocalTableScan and no
  * file/batch/row scan node anywhere. Shared by the in-band gates in
  * q148/q149 and LakeDsv2Spec so a Spark upgrade renaming a node is a
  * one-place fix — three drifting copies was a review finding.
  */
object LakeScanCheck {
  import org.apache.spark.sql.execution.{LocalTableScanExec, SparkPlan}
  import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

  /** STRUCTURAL, not string-matched: the plan's leaves are walked and
    * every one must be a `LocalTableScanExec`. The earlier form probed
    * `plan.toString.contains("parquet")` etc. — centralized, but a Spark
    * upgrade renaming a node string could break it silently in the TRUE
    * direction (an unrelated name collision reading as "no scan"); a
    * class-matched leaf walk can only break LOUDLY (a new leaf class
    * fails the forall and q148's in-band gate goes false). AQE wrappers
    * are unwrapped to whatever plan actually ran.
    */
  def isMetadataOnly(df: DataFrame): Boolean = {
    def leaves(p: SparkPlan): Seq[SparkPlan] = p match {
      // subqueries are not children — a scalar subquery hiding a file
      // scan must fail the check too
      case a: AdaptiveSparkPlanExec =>
        leaves(a.executedPlan) ++ a.subqueries.flatMap(leaves)
      case l if l.children.isEmpty => Seq(l) ++ l.subqueries.flatMap(leaves)
      case n => (n.children ++ n.subqueries).flatMap(leaves)
    }
    val ls = leaves(df.queryExecution.executedPlan)
    ls.nonEmpty && ls.forall(_.isInstanceOf[LocalTableScanExec])
  }

  /** Every [[LakeNativeBatchScan]] in the executed plan (AQE stages
    * unwrapped) — the observability seam q153 and the runtime-filter
    * specs read pruning evidence from AFTER an action has run the plan
    * (runtime filters are delivered at execution).
    */
  private[io] def nativeScansOf(df: DataFrame): Seq[LakeNativeBatchScan] = {
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    def walk(p: SparkPlan): Seq[LakeNativeBatchScan] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case b: BatchScanExec => b.scan match {
        case n: LakeNativeBatchScan => Seq(n)
        case _ => Nil
      }
      case n => n.children.flatMap(walk)
    }
    walk(df.queryExecution.executedPlan)
  }

  /** (files the scan will open, files surviving static pruning alone)
    * per native lake scan in the executed plan — strictly-less pairs
    * are RUNTIME (join-driven) pruning evidence. Public shape (plain
    * counts) so registered queries outside this package can pin the
    * claim in-band.
    */
  def nativePruning(df: DataFrame): Seq[(Int, Int)] =
    nativeScansOf(df).map(n => (n.plannedFiles.size, n.staticFileCount))

  /** (post-skip, pre-skip) file counts within each native scan's KEPT
    * directories — strictly-less pairs are FILE-LEVEL data-skipping
    * evidence (footer-bounds pruning inside surviving directories, the
    * q157 in-band claim), orthogonal to [[nativePruning]]'s
    * directory-level view.
    */
  def nativeStatsSkipping(df: DataFrame): Seq[(Int, Int)] =
    nativeScansOf(df).map(_.statsSkipping)

  /** The session conf opting lake scans into storage-partitioned-join
    * key grouping (public alias of the io-private key, for registered
    * queries outside this package).
    */
  val preserveDataGroupingConf: String =
    LakeNativeBatchScan.PreserveGroupingKey

  /** Shuffle exchanges in the EXECUTED plan (AQE stages unwrapped) —
    * zero over a lake-lake equi-join is the storage-partitioned-join
    * claim q159 pins in-band.
    */
  def shuffleExchanges(df: DataFrame): Int = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.QueryStageExec
    import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
    def walk(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      // a reused shuffle is still a shuffle: AQE wraps it as a leaf
      // referencing the original exchange, so without this case a plan
      // whose only shuffle is behind a reuse would claim zero
      case r: ReusedExchangeExec =>
        if (r.child.isInstanceOf[ShuffleExchangeLike]) 1 else 0
      case s => (if (s.isInstanceOf[ShuffleExchangeLike]) 1 else 0) +
        s.children.map(walk).sum
    }
    walk(df.queryExecution.executedPlan)
  }
}

/** Typed partition values parsed from manifest directory names — the
  * ONE dirname->value derivation, shared by the metadata-agg scan's
  * grouping/claim evaluation and the native batch's partition-value
  * rows, so the two scans can never disagree on what a directory means.
  * Semantics match Spark's own partition inference: Catalyst's string
  * cast per level, `__HIVE_DEFAULT_PARTITION__` as null, Hive
  * path-unescaping. ONE bound Cast per partition column against a
  * reused one-slot row (constructing a fresh Cast(Literal) per
  * directory dominated the fold at the 200k-dir design point —
  * ManifestScaleBench). Driver-side, NOT thread-safe (the reused row).
  */
private[io] class LakeDirValues(partCols: Seq[String], schema: StructType) {
  import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
  import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, GenericInternalRow}

  private val casterRow = new GenericInternalRow(1)
  private val casters: Map[String, Cast] = partCols.map { c =>
    c -> Cast(BoundReference(0, org.apache.spark.sql.types.StringType,
      nullable = true), schema(c).dataType, Some("UTC"))
  }.toMap
  private val levelOf: Map[String, Int] = partCols.zipWithIndex.toMap

  /** The typed (Catalyst-internal) value of `col` in directory `dir`. */
  def valueOf(dir: String, col: String): Any = {
    val level = dir.split('/')(levelOf(col))
    val raw = ExternalCatalogUtils.unescapePathName(
      level.substring(level.indexOf('=') + 1))
    if (raw == ExternalCatalogUtils.DEFAULT_PARTITION_NAME) null
    else {
      casterRow.update(0,
        org.apache.spark.unsafe.types.UTF8String.fromString(raw))
      casters(col).eval(casterRow)
    }
  }

  /** `cols`' values in `dir` as one InternalRow (the partition-value
    * row a [[org.apache.spark.sql.execution.datasources.PartitionedFile]]
    * carries).
    */
  def rowOf(dir: String, cols: Seq[String]): InternalRow =
    InternalRow.fromSeq(cols.map(valueOf(dir, _)))
}

/** The v1 `Filter` -> `Column` translation shared by the v1 relation
  * and the DSv2 fallback scan (both through [[LakeFrameRelation]]) —
  * one translator, so the two surfaces can never disagree on which
  * predicates reach the delegated plan's partition pruning. Unknown
  * filter shapes return None and are evaluated by the engine on top
  * (both surfaces re-apply every filter, so exactness is never at
  * stake).
  */
private[io] object LakeFilters {
  import org.apache.spark.sql.sources._

  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === v)
    case EqualNullSafe(a, v) => Some(col(a) <=> v)
    case GreaterThan(a, v) => Some(col(a) > v)
    case GreaterThanOrEqual(a, v) => Some(col(a) >= v)
    case LessThan(a, v) => Some(col(a) < v)
    case LessThanOrEqual(a, v) => Some(col(a) <= v)
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case And(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc && rc
    case Or(l, r) => for (lc <- toColumn(l); rc <- toColumn(r)) yield lc || rc
    case Not(c) => toColumn(c).map(!_)
    case _ => None
  }

  /** A scan builder's pushed filters as (claimed, residual, accepted):
    * claimed filters reference only `partCols` and compile exactly
    * ([[compile]]), the rest are residual, and accepted are those with a
    * [[toColumn]] translation ([[LakeScanBuilder.pushFilters]] says what
    * each set does).
    */
  def split(filters: Array[Filter], partCols: Seq[String],
      dt: String => Option[org.apache.spark.sql.types.DataType])
      : (Array[Filter], Array[Filter], Array[Filter]) = {
    val (claimed, residual) = filters.partition(f =>
      toColumn(f).isDefined && compile(f, dt).isDefined &&
        f.references.forall(partCols.contains))
    (claimed, residual, filters.filter(f => toColumn(f).isDefined))
  }

  /** Compile a v1 `Filter` into an EXACT three-valued (Kleene)
    * evaluator over TYPED partition values — the engine-grade
    * semantics that let [[LakeScanBuilder]] CLAIM a partition-column
    * filter as fully handled (so `COUNT(*) WHERE day = X` can answer
    * from metadata) instead of merely hinting it. None whenever the
    * shape or a value conversion falls outside the exact set — the
    * caller must then leave the filter to the engine.
    *
    * The evaluator maps a column->value lookup (Catalyst INTERNAL
    * values, as [[LakeMetadataAggScan]] derives from directory names)
    * to `Some(true)` (keep), `Some(false)` (drop), or `None` (SQL
    * NULL — drops at the top, but must stay distinguishable from
    * false underneath a `Not`/`Or`, where two-valued folding would
    * flip unknown into keep).
    */
  def compile(f: Filter, dt: String => Option[org.apache.spark.sql.types.DataType])
      : Option[(String => Any) => Option[Boolean]] = {
    import org.apache.spark.sql.sources._
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal}
    import org.apache.spark.sql.catalyst.util.TypeUtils
    type Eval = (String => Any) => Option[Boolean]
    // the filter value, converted to the column's internal form; None
    // when the column is unknown, the conversion throws, or the cast
    // produces null (e.g. a string that doesn't parse as the numeric
    // partition type) — all "leave it to the engine"
    def conv(a: String, x: Any): Option[Any] = dt(a).flatMap { t =>
      try Option(Cast(Literal(x), t, Some("UTC")).eval())
      catch { case scala.util.control.NonFatal(_) => None }
    }
    def cmp(a: String, x: Any)(sign: Int => Boolean): Option[Eval] =
      for (xv <- conv(a, x); t <- dt(a)) yield {
        val ord = TypeUtils.getInterpretedOrdering(t)
        v => { val va = v(a)
          if (va == null) None else Some(sign(ord.compare(va, xv))) }
      }
    def str(a: String)(test: String => Boolean): Option[Eval] =
      dt(a).filter(_ == org.apache.spark.sql.types.StringType).map { _ =>
        v => { val va = v(a)
          if (va == null) None else Some(test(va.toString)) }
      }
    f match {
      // DELETE FROM without a WHERE arrives as AlwaysTrue; the constant
      // shapes are trivially exact
      case _: AlwaysTrue => Some(_ => Some(true))
      case _: AlwaysFalse => Some(_ => Some(false))
      case EqualTo(a, x) => cmp(a, x)(_ == 0)
      case EqualNullSafe(a, null) =>
        dt(a).map(_ => v => Some(v(a) == null))
      case EqualNullSafe(a, x) =>
        cmp(a, x)(_ == 0).map(e => v =>
          if (v(a) == null) Some(false) else e(v))
      case GreaterThan(a, x) => cmp(a, x)(_ > 0)
      case GreaterThanOrEqual(a, x) => cmp(a, x)(_ >= 0)
      case LessThan(a, x) => cmp(a, x)(_ < 0)
      case LessThanOrEqual(a, x) => cmp(a, x)(_ <= 0)
      case In(a, xs) =>
        // SQL IN: a match wins; no match is FALSE unless the list held
        // a null, which makes it NULL (visible under Not)
        val hasNull = xs.contains(null)
        val nonNull = xs.filter(_ != null).toSeq
        val converted = nonNull.map(conv(a, _))
        if (converted.exists(_.isEmpty)) None
        else for (t <- dt(a)) yield {
          val ord = TypeUtils.getInterpretedOrdering(t)
          val vals = converted.flatten
          (v: String => Any) => { val va = v(a)
            if (va == null) None
            else if (vals.exists(ord.compare(va, _) == 0)) Some(true)
            else if (hasNull) None
            else Some(false) }
        }
      case IsNull(a) => dt(a).map(_ => v => Some(v(a) == null))
      case IsNotNull(a) => dt(a).map(_ => v => Some(v(a) != null))
      case StringStartsWith(a, x) => str(a)(_.startsWith(x))
      case StringEndsWith(a, x) => str(a)(_.endsWith(x))
      case StringContains(a, x) => str(a)(_.contains(x))
      case And(l, r) => for (le <- compile(l, dt); re <- compile(r, dt))
        yield { v: (String => Any) => (le(v), re(v)) match {
          case (Some(false), _) | (_, Some(false)) => Some(false)
          case (Some(true), Some(true)) => Some(true)
          case _ => None } }
      case Or(l, r) => for (le <- compile(l, dt); re <- compile(r, dt))
        yield { v: (String => Any) => (le(v), re(v)) match {
          case (Some(true), _) | (_, Some(true)) => Some(true)
          case (Some(false), Some(false)) => Some(false)
          case _ => None } }
      case Not(c) => compile(c, dt).map(e => (v: String => Any) => e(v).map(!_))
      case _ => None
    }
  }

  /** A compiled three-valued directory predicate ([[compile]]'s shape). */
  type DirEval = (String => Any) => Option[Boolean]

  /** The ONE keep-on-Some(true) evaluation of compiled predicates over
    * a directory's parsed partition values — shared by the native
    * scan's static and runtime pruning, the metadata-agg scan's
    * claimed filters, and SQL DELETE's retirement matching, so the
    * four sites can never drift on what "this directory matches"
    * means (three-valued: false AND unknown both keep the directory
    * OUT of the matched set).
    */
  def dirMatches(preds: Seq[DirEval], parser: LakeDirValues)(
      dir: String): Boolean =
    preds.forall(_(c => parser.valueOf(dir, c)).contains(true))

  /** Can a file whose committed per-column bounds are `stats` possibly
    * hold a row matching `f`? `false` ONLY when the bounds PROVE no row
    * can match — the file-skipping decision the native scan applies to
    * each kept directory's file list. Everything conservative:
    *
    *  - a column absent from `stats` (never harvested, non-numeric,
    *    non-finite values at commit) keeps the file;
    *  - bounds are the ULP-WIDENED doubles [[PartitionedLake]] harvests
    *    (widened specifically so this comparison is sound for exact
    *    long/int values rendered as doubles);
    *  - parquet min/max ignore NULLs, so a file of all-null values may
    *    carry no bounds (kept) — and the shapes evaluated here
    *    (comparisons, IN) are never satisfied BY a null row, so
    *    skipping on non-null bounds never drops a null-matching row;
    *  - `Not`, null tests, and unknown shapes keep the file (proving
    *    "every row matches the inner predicate" needs more than
    *    bounds);
    *  - the filters arrive from `pushFilters`' RESIDUAL set, which the
    *    engine re-evaluates row-by-row on top — the skip is pure
    *    performance, exactness never rides on it.
    */
  def mayMatchStats(f: Filter,
      stats: Map[String, (Double, Double)],
      strStats: Map[String, (String, String)] = Map.empty): Boolean = {
    import org.apache.spark.sql.sources._
    def num(x: Any): Option[Double] = x match {
      case n: java.lang.Number => Some(n.doubleValue)
      case _ => None
    }
    def str(x: Any): Option[String] = x match {
      case s: String => Some(s)
      case s: org.apache.spark.unsafe.types.UTF8String => Some(s.toString)
      case _ => None
    }
    // one literal-vs-bounds evaluator per type; a (column, literal)
    // pair with no matching bounds keeps the file. `cmp` returns the
    // literal's position against a bound in THE BOUND'S order — UTF-8
    // unsigned bytes for strings (parquet's binary order; Java UTF-16
    // compareTo diverges on supplementary-plane code points).
    def eval(a: String, x: Any)(
        decide: (Int, Int) => Boolean): Boolean = {
      val numeric = for ((lo, hi) <- stats.get(a); v <- num(x))
        yield decide(java.lang.Double.compare(v, lo),
          java.lang.Double.compare(v, hi))
      val string = for ((lo, hi) <- strStats.get(a); v <- str(x))
        yield decide(cmpUtf8(v, lo), cmpUtf8(v, hi))
      numeric.orElse(string).getOrElse(true)
    }
    f match {
      case EqualTo(a, x) =>
        eval(a, x)((vsLo, vsHi) => vsLo >= 0 && vsHi <= 0)
      case EqualNullSafe(a, x) if x != null =>
        eval(a, x)((vsLo, vsHi) => vsLo >= 0 && vsHi <= 0)
      case GreaterThan(a, x) => eval(a, x)((_, vsHi) => vsHi < 0)
      case GreaterThanOrEqual(a, x) => eval(a, x)((_, vsHi) => vsHi <= 0)
      case LessThan(a, x) => eval(a, x)((vsLo, _) => vsLo > 0)
      case LessThanOrEqual(a, x) => eval(a, x)((vsLo, _) => vsLo >= 0)
      case In(a, xs) =>
        xs.isEmpty || xs.exists(x =>
          eval(a, x)((vsLo, vsHi) => vsLo >= 0 && vsHi <= 0))
      case StringStartsWith(a, p) => strStats.get(a) match {
        // a string with prefix p lies in [p, increment(p)): the file
        // may hold one iff that half-open interval intersects [lo, hi].
        // An unincrementable prefix degrades to the hi-side test only.
        case Some((lo, hi)) =>
          cmpUtf8(hi, p) >= 0 &&
            incrementUtf8(p).forall(p1 => cmpUtf8(lo, p1) < 0)
        case None => true
      }
      case And(l, r) => mayMatchStats(l, stats, strStats) &&
        mayMatchStats(r, stats, strStats)
      case Or(l, r) => mayMatchStats(l, stats, strStats) ||
        mayMatchStats(r, stats, strStats)
      case _ => true
    }
  }

  /** UTF-8 unsigned byte order — the order parquet binary statistics
    * are computed in. Equals code-POINT order; Java String.compareTo
    * (UTF-16 code units) disagrees wherever supplementary-plane code
    * points meet [U+E000, U+FFFF].
    */
  private[io] def cmpUtf8(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))

  private[io] val utf8Ordering: Ordering[String] =
    (a: String, b: String) => cmpUtf8(a, b)

  /** First `n` code points (never splits a surrogate pair — a split
    * pair re-encodes as replacement bytes and breaks the order
    * argument truncation soundness rests on).
    */
  private[io] def truncateCodePoints(s: String, n: Int): String =
    if (s.codePointCount(0, s.length) <= n) s
    else s.substring(0, s.offsetByCodePoints(0, n))

  /** The smallest valid string strictly greater (UTF-8 order) than
    * EVERY string prefixed by `s`: increment the last incrementable
    * code point and drop what follows, skipping the surrogate gap
    * (U+D7FF + 1 -> U+E000). None when every code point is U+10FFFF —
    * callers degrade conservatively.
    */
  private[io] def incrementUtf8(s: String): Option[String] = {
    val cps = s.codePoints().toArray
    var i = cps.length - 1
    while (i >= 0 && cps(i) >= Character.MAX_CODE_POINT) i -= 1
    if (i < 0) None
    else {
      val next0 = cps(i) + 1
      val next = if (next0 >= Character.MIN_SURROGATE.toInt &&
        next0 <= Character.MAX_SURROGATE.toInt) 0xE000 else next0
      val out = new java.lang.StringBuilder
      (0 until i).foreach(j => out.appendCodePoint(cps(j)))
      out.appendCodePoint(next)
      Some(out.toString)
    }
  }
}

/** The DataSource V2 form of [[PartitionedLake]] — the surface that
  * closes the one capability gap between the Scala API and SQL:
  * `SELECT COUNT(*)` answers from manifest metadata (zero data files
  * opened, zero Spark jobs — [[PartitionedLake.rowCount]]'s contract,
  * now reachable from SQL/PySpark), and SQL time travel runs through
  * real `VERSION AS OF` syntax via [[LakeCatalog]] instead of a
  * format option.
  *
  * Three registered routes share this one table implementation:
  *
  *  - `spark.read.format("graft-lake-v2").option("path", lake)`
  *    (+ optional `versionAsOf`) — [[LakeTableProvider]];
  *  - `spark.sql.catalog.<name> = graft.io.LakeCatalog`, then
  *    `SELECT ... FROM <name>.`/lake/path`` and
  *    `... VERSION AS OF <v>` — [[LakeCatalog]];
  *  - the v1 `graft-lake` format stays registered unchanged (its write
  *    and streaming-sink surfaces are v1-API shapes by design).
  *
  * Scan strategy, per query:
  *
  *  - un-filtered COUNT(*) / MIN / MAX of partition columns —
  *    optionally GROUP BY partition columns — over a snapshot whose
  *    count is exact in metadata (no live merge-on-read deltas, every
  *    file's footer row count harvested) -> [[LakeMetadataAggScan]],
  *    a driver-local scan (`LocalScan` plans to a LocalTableScan — no
  *    data files, no jobs). Degrades to a real scan in every other
  *    case, never to a wrong answer — exactly
  *    [[PartitionedLake.rowCount]]'s None contract.
  *  - a snapshot the native batch can express exactly
  *    ([[LakeNativeBatchScan.eligible]]: no live deltas, byte lengths on
  *    every file, no physical-name pins) -> [[LakeNativeBatchScan]], the
  *    DSv2 file batch: claimed partition filters and footer bounds
  *    prune directories and files at planning, and runtime filters
  *    (DPP) prune them again at execution;
  *  - a DIRTY (merge-on-read) snapshot whose sidecars fit the task-side
  *    merge ([[LakeNativeBatchScan.morDeltaInfo]]) -> the same native
  *    batch, merging each dirty directory's log inside its tasks;
  *  - everything else (adopted legacy files, renamed columns' pins,
  *    oversized logs) -> [[LakeV1FallbackScan]], a `V1Scan` handing the
  *    engine the SAME delegated DataFrame plan the Scala API and the v1
  *    format build (manifest-scoped file list, merge-on-read merging,
  *    pruned columns, pushed partition predicates). Static partition
  *    pruning is complete there, but runtime filters do not reach its
  *    file list — the V1Scan shim has no `SupportsRuntimeFiltering`
  *    seam; `compact()` restores the native route.
  */
private[io] class GraftLakeTable(path: String, version: Option[Long],
    branchPin: Option[String] = None)
    extends Table with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.SupportsDelete
    with org.apache.spark.sql.connector.catalog.SupportsRowLevelOperations
    with org.apache.spark.sql.connector.catalog.SupportsMetadataColumns {
  private def spark: SparkSession = SparkSession.active

  /** The row-identity struct for merge-on-read row-level SQL — exposed
    * ONLY under the session opt-in and only when an identity key
    * quietly resolves (the loud, directed key errors belong to the
    * statement path — [[LakeDeltaRowLevel.resolveKey]] — not to
    * arbitrary analysis over this table). Empty otherwise: with the
    * opt-in off, the lake has zero metadata-column surface.
    */
  override def metadataColumns()
      : Array[org.apache.spark.sql.connector.catalog.MetadataColumn] = {
    if (version.isDefined ||
      LakeDeltaRowLevel.modeOf() != LakeDeltaRowLevel.MergeOnRead)
      return Array.empty
    (for {
      m <- manifest
      partCols <- PartitionedLake.layoutOf(m)
      key <- LakeDeltaRowLevel.resolveKeyOpt(m)
    } yield new LakeIdentMetadataColumn(
      LakeDeltaRowLevel.identTypeOf(m, partCols, key))
      : org.apache.spark.sql.connector.catalog.MetadataColumn)
      .toArray
  }

  /** SQL UPDATE / MERGE INTO / row-level DELETE — the group-based
    * copy-on-write rewrite ([[LakeRowLevelOperation]]). Partition-only
    * DELETEs never reach it: the engine's metadata-delete optimization
    * routes them back through [[deleteWhere]] (the honest
    * `canDeleteWhere` is exactly what makes that optimization fire).
    * Versioned and pre-protocol tables refuse at analysis with
    * directions, matching every other write surface.
    */
  override def newRowLevelOperationBuilder(
      info: org.apache.spark.sql.connector.write.RowLevelOperationInfo)
      : org.apache.spark.sql.connector.write.RowLevelOperationBuilder = {
    requireUnpinned(s"SQL-${info.command}")
    if (version.isDefined) sys.error(
      s"cannot ${info.command} $path VERSION AS OF ${version.get}: " +
        "snapshots are immutable — run the statement against the " +
        "unversioned table instead")
    val m = manifest.getOrElse(sys.error(
      s"cannot SQL-${info.command} the pre-protocol lake at $path: " +
        "adopt it first (any PartitionedLake write publishes a manifest " +
        "declaring the partition layout)"))
    if (PartitionedLake.layoutOf(m).isEmpty) sys.error(
      s"cannot SQL-${info.command} $path: the current snapshot is empty " +
        "and pre-dates layout declarations — bootstrap through " +
        "PartitionedLake.write/append or CREATE TABLE, which declare it")
    // write-path routing (Iceberg's write.update.mode idea, as a session
    // opt-in): copy-on-write (default) rewrites affected partition
    // directories wholesale; merge-on-read publishes O(changed rows)
    // delta sidecars instead — see LakeDeltaRowLevel's contract notes
    SparkSession.active.conf.get(LakeDeltaRowLevel.ModeKey,
        LakeDeltaRowLevel.CopyOnWrite) match {
      case LakeDeltaRowLevel.CopyOnWrite =>
        () => new LakeRowLevelOperation(path, m, info.command)
      case LakeDeltaRowLevel.MergeOnRead =>
        val key = LakeDeltaRowLevel.resolveKey(path, m)
        () => new LakeDeltaRowLevelOperation(path, m, info.command, key)
      case other => sys.error(
        s"${LakeDeltaRowLevel.ModeKey} must be " +
          s"'${LakeDeltaRowLevel.CopyOnWrite}' or " +
          s"'${LakeDeltaRowLevel.MergeOnRead}', got '$other'")
    }
  }

  // resolved ONCE at table construction: the DSv2 relation pins this
  // snapshot exactly like the API read pins its manifest. A per-read
  // branch pin (.option("branch", ...) / `#branch=<name>`) resolves
  // here too — validated, reconciled with the ambient conf (agreement
  // or unset required), then used exactly like the ambient branch: one
  // query can therefore read a branch AND main together (the
  // publish-gate audit's `branch EXCEPT main` shape) with no
  // session-conf flips around lazily-constructed frames.
  branchPin.foreach(PartitionedLake.requireRefName("branch", _))
  private[io] val branch: Option[String] =
    PartitionedLake.resolveReadBranch(branchPin)
  private[io] val manifest =
    PartitionedLake.manifestAt(spark, path, version, branch)

  /** The table's ENFORCED CHECK constraints, off the pinned manifest:
    * reporting them is what opts the SQL surface into Spark's OWN
    * write-side enforcement (`ResolveTableConstraints` injects a
    * `CheckInvariant` into every INSERT/UPDATE/MERGE plan against this
    * table — a violating row fails the write before the commit); the
    * API paths enforce the same predicates in
    * [[PartitionedLake.applyChecks]] at stage time. VALID is honest:
    * the only creation paths are ADD CONSTRAINT (existing data
    * scanned) and CREATE TABLE (empty).
    */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints
        .Constraint] =
    manifest.map(_.checks.map { case (n, sql) =>
      org.apache.spark.sql.connector.catalog.constraints.Constraint
        .check(n).predicateSql(sql).enforced(true)
        .validationStatus(org.apache.spark.sql.connector.catalog
          .constraints.Constraint.ValidationStatus.VALID)
        .build(): org.apache.spark.sql.connector.catalog.constraints
          .Constraint
    }.toArray).getOrElse(Array.empty)

  /** Write surfaces refuse on a branch-PINNED table: every lake write
    * path routes through the ambient conf, so honoring a pinned write
    * would either silently write to main (pin ignored) or silently
    * diverge from the session's other writes (pin preferred) — both
    * foot-guns. Branch DML stages through the ambient conf, the same
    * way it always has; the pin is a READ surface.
    */
  private def requireUnpinned(what: String): Unit = branchPin.foreach(b =>
    sys.error(s"cannot $what $path via the per-read branch pin '$b': " +
      s"the pin is a read surface — stage branch writes through the " +
      s"ambient conf (SET ${PartitionedLake.BranchKey}=$b) instead"))

  /** SQL `DELETE FROM lake WHERE <partition predicate>`: every filter
    * must reference ONLY partition columns and compile through the
    * exact three-valued evaluator — then each partition directory is
    * uniformly true/false/null for the whole conjunction (its rows
    * share the partition values), so retiring the Some(true)
    * directories IS row-exact DELETE semantics, for the cost of one
    * manifest commit and zero data jobs. HONESTLY declared: a
    * sub-partition predicate returns false here and the statement fails
    * at ANALYSIS ("Cannot delete from table ... where ..."), the same
    * capability-honesty rule that keeps OVERWRITE_BY_FILTER
    * un-advertised — row-level deletes go through
    * [[PartitionedLake.cdcSink]]/[[PartitionedLake.cdcSinkMergeOnRead]].
    */
  override def canDeleteWhere(filters: Array[Filter]): Boolean = {
    version.isEmpty && branchPin.isEmpty && manifest.exists { m =>
      val partCols = PartitionedLake.layoutOf(m).getOrElse(Nil)
      partCols.nonEmpty && filters.forall(f =>
        f.references.forall(partCols.contains) &&
          LakeFilters.compile(f, dtOf).isDefined)
    }
  }

  private def dtOf(c: String): Option[org.apache.spark.sql.types.DataType] =
    schema.fields.find(_.name == c).map(_.dataType)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    requireUnpinned("DELETE from")
    if (version.isDefined) sys.error(
      s"cannot DELETE from $path VERSION AS OF ${version.get}: snapshots " +
        "are immutable — DELETE from the unversioned table instead")
    // the deletion set is derived from the LATEST head, not the pinned
    // read snapshot: DELETE is a write, and the commit's conflict check
    // must run against what it actually supersedes
    val head = PartitionedLake.manifestAt(spark, path, None).getOrElse(
      sys.error(s"cannot SQL-DELETE from the pre-protocol lake at $path: " +
        "adopt it first (any PartitionedLake write publishes a manifest)"))
    val partCols = PartitionedLake.layoutOf(head).getOrElse(Nil)
    // defense in depth behind canDeleteWhere (and the seam for direct
    // API callers): refuse loudly, naming the row-level alternative
    val unclaimable = filters.filterNot(f =>
      f.references.forall(partCols.contains) &&
        LakeFilters.compile(f, dtOf).isDefined)
    if (partCols.isEmpty || unclaimable.nonEmpty) sys.error(
      s"DELETE FROM $path requires a predicate over the partition " +
        s"column(s) ${partCols.mkString(", ")} that the exact evaluator " +
        s"can claim; got: ${unclaimable.mkString(", ")} — for row-level " +
        "deletes use PartitionedLake.cdcSink / cdcSinkMergeOnRead " +
        "(keyed 'D' ops), then compact()")
    val parser = new LakeDirValues(partCols, head.schema)
    val preds = filters.toSeq.map(f => LakeFilters.compile(f, dtOf).get)
    val matched = PartitionedLake.allDirs(head)
      .filter(LakeFilters.dirMatches(preds, parser))
    PartitionedLake.retireDirectories(spark, path, matched, head)
  }

  override val schema: StructType = manifest.map(_.schema).getOrElse {
    // pre-protocol (manifest-less) parquet lake: adopt its layout
    spark.read.parquet(path).schema
  }

  /** SQL writes: `INSERT INTO` appends through the snapshot protocol
    * ([[PartitionedLake.append]] — racing inserts arbitrate through
    * the same CommitArbiter seam as API writes and land as ordered
    * versions); `INSERT OVERWRITE` is the full-snapshot overwrite
    * ([[PartitionedLake.write]]). A `VERSION AS OF` table refuses
    * writes (history is immutable), as does a pre-protocol lake
    * (adopt it with an API write first so the layout is declared).
    */
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder = {
    requireUnpinned("write to")
    if (version.isDefined) sys.error(
      s"cannot write to $path VERSION AS OF ${version.get}: snapshots " +
        "are immutable — INSERT into the unversioned table instead")
    val m = manifest.getOrElse(sys.error(
      s"cannot SQL-write to the pre-protocol lake at $path: adopt it " +
        "first (any PartitionedLake.write/upsert/append publishes a " +
        "manifest declaring the partition layout)"))
    val layout = PartitionedLake.layoutOf(m).getOrElse(sys.error(
      s"cannot SQL-write to $path: the current snapshot is empty and " +
        "pre-dates layout declarations, so the partition layout cannot " +
        "be derived — bootstrap through PartitionedLake.write/append " +
        "(or CREATE TABLE ... PARTITIONED BY), which declare it"))
    new LakeWriteBuilder(path, layout, info.schema(), info)
  }

  override def partitioning(): Array[Transform] = manifest
    // layoutOf: directory names when any exist, the declared
    // meta:partition-cols for empty snapshots (created tables,
    // fully-emptied lakes), empty for a pre-layout empty manifest
    .flatMap(PartitionedLake.layoutOf)
    .map(_.map(c => Expressions.identity(c)).toArray)
    .getOrElse(Array.empty)

  override def name(): String =
    s"graft-lake $path" +
      branchPin.map(b => s"#branch=$b").getOrElse("") +
      version.map(v => s" VERSION AS OF $v").getOrElse("")

  // OVERWRITE_BY_FILTER is back (round 15 dropped it as dishonest;
  // commitStaged's replace-scoped-dirs shape now makes it real): the
  // write builder accepts partition-exact predicates — the standard
  // `INSERT OVERWRITE ... PARTITION (k='v')` backfill — through the
  // same exact-evaluator gate as canDeleteWhere, and refuses
  // sub-partition conditions at write planning with directions to
  // MERGE/upsert. OVERWRITE_DYNAMIC is the matching dynamic-mode
  // write (replace exactly the partitions the data touches), a real
  // DSv2 batch write since the engine has no V1 dynamic exec.
  // STREAMING_WRITE: writeStream.format("graft-lake-v2") / .toTable
  // commit each epoch through the same snapshot protocol with the
  // per-writer txn replay guard ([[LakeStreamingWrite]])
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC, TableCapability.STREAMING_WRITE)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeScanBuilder(path, version, schema, manifest)
}

/** `INSERT INTO` / `INSERT OVERWRITE` onto the existing commit
  * protocol — no new transaction code:
  *
  *  - append rides [[PartitionedLake.append]] (merge-into-directories,
  *    conflict-free rebase);
  *  - full overwrite rides [[PartitionedLake.write]] (full-snapshot
  *    supersede);
  *  - `PARTITION (k='v')`-scoped overwrite rides
  *    [[PartitionedLake.overwritePartitions]] (replace exactly the
  *    matched directories, one commit; sub-partition predicates refuse
  *    at write planning with MERGE/upsert directions);
  *  - dynamic mode is the one REAL batch write here — the engine has
  *    no V1 exec for `OverwritePartitionsDynamic` — and shares the
  *    copy-on-write statements' staged write ([[LakeReplaceDataWrite]]):
  *    it replaces exactly the partitions the data touched, resolving
  *    the head manifest at commit, and an empty source publishes
  *    nothing.
  *
  * Every route inherits the snapshot's stats harvest
  * ([[PartitionedLake.statsColsOf]]) so SQL writes keep a z-order-
  * maintained lake's file-skipping bounds alive.
  */
private[io] class LakeWriteBuilder(path: String, partitionCols: Seq[String],
    writeSchema: StructType,
    info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsOverwrite
    with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite
    // Update-mode streams are accepted: with a keyCol each update row
    // IS an upsert of its identity (the natural sink for streaming
    // aggregates); without one, update rows append — documented on the
    // sink, same contract as the v1 graft-lake streaming sink
    with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend {
  import org.apache.spark.sql.connector.write.{V1Write, WriteBuilder}

  private var overwriteAll = false
  private var overwriteFilters: Option[Array[Filter]] = None
  private var dynamic = false

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    val full = filters.isEmpty ||
      filters.forall(_ == org.apache.spark.sql.sources.AlwaysTrue)
    if (full) overwriteAll = true
    else overwriteFilters = Some(filters)
    this
  }

  override def overwriteDynamicPartitions(): WriteBuilder = {
    dynamic = true
    this
  }

  private def inheritedStats(data: DataFrame): Seq[String] =
    (PartitionedLake.statsColsOf(
      PartitionedLake.manifestAt(data.sparkSession, path, None))
      intersect data.schema.fieldNames.toSeq).distinct

  /** The streaming form ([[LakeStreamingWrite]]): mode from the
    * builder state + options — Complete mode arrives as `truncate()`
    * (→ per-epoch overwrite), a `keyCol` option selects per-epoch
    * upsert, otherwise per-epoch append. `writerId` defaults to the
    * streaming query's checkpoint-stable id, so a restarted query
    * resumes its own replay guard and two queries sharing a lake
    * never swallow each other's epochs.
    */
  private def streaming: org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
    require(overwriteFilters.isEmpty && !dynamic,
      "graft-lake-v2 streaming write supports append/update/complete " +
        "output modes, not partition-scoped or dynamic overwrite")
    val opts = info.options
    val keyCol = Option(opts.get("keyCol")).map(_.trim).filter(_.nonEmpty)
    val statsCols = Option(opts.get("statsCols")).getOrElse("")
      .split(',').map(_.trim).filter(_.nonEmpty).toSeq
    val writerId = Option(opts.get("writerId")).map(_.trim)
      .filter(_.nonEmpty).getOrElse(s"stream-${info.queryId()}")
    new LakeStreamingWrite(path, partitionCols, keyCol, statsCols,
      writerId, writeSchema, complete = overwriteAll)
  }

  /** Dynamic overwrite's commit: one snapshot replacing exactly the
    * directories the data touched, over the head manifest resolved now
    * (racing commits into a replaced partition conflict through the
    * standard rebase check); an empty source publishes nothing (no
    * version churn).
    */
  private def commitDynamic(staging: StagingRoot,
      staged: Map[String, Seq[PartitionedLake.FileEntry]]): Unit =
    if (staged.isEmpty) staging.abort()
    else {
      val old = PartitionedLake.manifestAt(SparkSession.active, path, None)
        .getOrElse(sys.error(s"cannot dynamic-overwrite the pre-protocol " +
          s"lake at $path: adopt it first (any PartitionedLake write " +
          "publishes a manifest)"))
      PartitionedLake.commitStaged(staging.fs, path, staging.path, staged,
        staged.keySet, writeSchema, Some(old), None)
    }

  override def build(): org.apache.spark.sql.connector.write.Write =
    if (dynamic) new LakeReplaceDataWrite(path, "GraftLakeDynamicOverwrite",
      partitionCols, writeSchema,
      // inherit the snapshot's stats harvest (same rule as ReplaceData):
      // a backfill into a z-order-maintained lake keeps its file skipping
      () => PartitionedLake.statsColsOf(
        PartitionedLake.manifestAt(SparkSession.active, path, None)),
      commitDynamic)
    else new V1Write {
      override def toStreaming
          : org.apache.spark.sql.connector.write.streaming.StreamingWrite =
        streaming
      override def toInsertableRelation
          : org.apache.spark.sql.sources.InsertableRelation =
        new org.apache.spark.sql.sources.InsertableRelation {
          override def insert(data: DataFrame, overwrite: Boolean): Unit =
            overwriteFilters match {
              case Some(fs) =>
                PartitionedLake.overwritePartitions(data, path,
                  partitionCols, fs.toIndexedSeq)
              case None if overwriteAll || overwrite =>
                PartitionedLake.write(data, path, partitionCols,
                  inheritedStats(data))
              case None =>
                PartitionedLake.append(data, path, partitionCols,
                  inheritedStats(data))
            }
        }
    }
}

private[io] class LakeScanBuilder(path: String, version: Option[Long],
    fullSchema: StructType, manifest: Option[PartitionedLake.Manifest])
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

  private var required: StructType = fullSchema
  private var accepted: Array[Filter] = Array.empty
  private var claimed: Array[Filter] = Array.empty
  private var residual: Array[Filter] = Array.empty
  private var pushedAggs: Seq[LakeMetaAgg] = Nil
  private var groupCols: Seq[String] = Nil

  private def dtOf(c: String): Option[org.apache.spark.sql.types.DataType] =
    fullSchema.fields.find(_.name == c).map(_.dataType)

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Filters split three ways:
    *
    *  - CLAIMED (not returned — the engine drops its own copy): filters
    *    that reference ONLY partition columns and compile through
    *    [[LakeFilters.compile]]'s exact three-valued evaluator. Claiming
    *    is what lets `COUNT(*) WHERE day = X` stay an aggregate-pushdown
    *    candidate — Spark only pushes aggregates when no post-scan
    *    filters remain — and every claimed filter is applied EXACTLY by
    *    whichever scan is built (directory-level in the metadata scan,
    *    frame-level in the fallback).
    *  - residual translatable: reach the delegated plan's partition
    *    pruning AND are returned for engine re-evaluation — imperfect
    *    translation can cost performance, never correctness.
    *  - residual opaque: engine-only.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (c, r, a) = LakeFilters.split(filters, partCols, dtOf)
    claimed = c
    residual = r
    accepted = a
    residual
  }
  override def pushedFilters(): Array[Filter] = accepted

  private def metadataCount: Option[Long] =
    manifest.flatMap(PartitionedLake.metadataRowCount)

  /** The partition columns of the pinned snapshot (Nil when the
    * manifest is absent or legitimately empty) — the ONE derivation
    * both pushdown gates consult, so the grouping gate and the
    * aggregate gate can never disagree on what a partition column is.
    */
  private lazy val partCols: Seq[String] =
    manifest.flatMap(PartitionedLake.layoutOf).getOrElse(Nil)

  /** The group-by columns iff EVERY grouping expression is a bare
    * reference to a partition column — the only grouping a manifest can
    * answer (each partition directory's row count is exact metadata;
    * grouping by a PREFIX of the partition columns just sums leaves).
    */
  private def partitionGroupCols(agg: Aggregation): Option[Seq[String]] = {
    if (agg.groupByExpressions.isEmpty) return Some(Nil)
    val named = agg.groupByExpressions.toSeq.map {
      case r: org.apache.spark.sql.connector.expressions.NamedReference
          if r.fieldNames.length == 1 => Some(r.fieldNames.head)
      case _ => None
    }
    if (named.forall(_.exists(partCols.contains)))
      Some(named.map(_.get))
    else None
  }

  /** The metadata-answerable aggregate list, in expression order —
    * None when ANY aggregate needs data. COUNT(*) answers from
    * per-directory row counts; MIN/MAX answer iff the argument is a
    * bare PARTITION column reference, whose exact values are the
    * directory names themselves (`SELECT max(day) FROM lake` — the
    * freshness probe every orchestrator runs — costs a manifest read).
    * MIN/MAX of DATA columns never route here: the manifest's column
    * stats are deliberately ULP-WIDENED bounds (footerInfo widens long
    * stats with nextDown/nextUp for skipping soundness), sound for
    * file pruning but not exact values.
    */
  private def metaAggsOf(agg: Aggregation): Option[Seq[LakeMetaAgg]] = {
    def partRef(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case r: org.apache.spark.sql.connector.expressions.NamedReference
          if r.fieldNames.length == 1 && partCols.contains(r.fieldNames.head)
        => Some(r.fieldNames.head)
      case _ => None
    }
    val specs = agg.aggregateExpressions.toSeq.map {
      case _: CountStar => Some(LakeMetaAgg.Count)
      case m: Min => partRef(m.column).map(LakeMetaAgg.MinOf)
      case m: Max => partRef(m.column).map(LakeMetaAgg.MaxOf)
      case _ => None
    }
    if (specs.nonEmpty && specs.forall(_.isDefined)) Some(specs.map(_.get))
    else None
  }

  /** An aggregation completes from metadata iff nothing can change the
    * answer: grouping (if any) is by partition columns alone, every
    * filter was CLAIMED (partition-column-only, exactly evaluated
    * against directory values — a residual filter needs data), every
    * aggregate is metadata-answerable ([[metaAggsOf]]), and the
    * snapshot's counts are exact in the manifest (no live deltas /
    * legacy files — [[PartitionedLake.rowCount]]'s None contract;
    * MIN/MAX need the same gate: live deltas can empty a partition,
    * and a 0-row or unknown-row directory must not contribute its
    * value). Anything else degrades to the real scan.
    */
  private def canComplete(agg: Aggregation): Boolean =
    residual.isEmpty &&
      metaAggsOf(agg).isDefined &&
      partitionGroupCols(agg).isDefined &&
      metadataCount.isDefined

  override def supportCompletePushDown(agg: Aggregation): Boolean =
    canComplete(agg)

  override def pushAggregation(agg: Aggregation): Boolean =
    canComplete(agg) && {
      pushedAggs = metaAggsOf(agg).get
      groupCols = partitionGroupCols(agg).get
      true
    }

  /** The native DSv2 batch serves every snapshot it can express
    * EXACTLY ([[LakeNativeBatchScan.eligible]] — the gate shared with
    * the row-level operation); everything else falls back to the
    * delegated V1 plan — routing, never degrading.
    */
  private def nativeEligible: Boolean =
    manifest.exists(LakeNativeBatchScan.eligible)

  override def build(): Scan =
    if (pushedAggs.nonEmpty)
      new LakeMetadataAggScan(manifest.get, fullSchema, groupCols,
        pushedAggs, claimed)
    else if (nativeEligible)
      new LakeNativeBatchScan(path, version, manifest.get, fullSchema,
        required, claimed, residual)
    else manifest.flatMap(m =>
      // dirty (merge-on-read) snapshots go native too when the sidecar
      // load fits the task-side merge — DPP/claims/stats-skipping then
      // prune dirty directories instead of the read dropping to V1
      // between compactions
      LakeNativeBatchScan.morDeltaInfo(SparkSession.active, path, m)
        .map(info => new LakeNativeBatchScan(path, version, m,
          fullSchema, required, claimed, residual, info): Scan)
    ).getOrElse(
      new LakeV1FallbackScan(path, version, required, accepted, manifest))
}

/** The DSv2 statistics report: exact manifest numbers when known, empty
  * (engine falls back to its conservative default) otherwise — a size
  * statistic must never underestimate, so "unknown" beats "guessed".
  */
private[io] class LakeStatistics(bytes: Option[Long], rows: Option[Long])
    extends org.apache.spark.sql.connector.read.Statistics {
  override def sizeInBytes(): java.util.OptionalLong =
    bytes.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
  override def numRows(): java.util.OptionalLong =
    rows.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
}

/** A metadata-answerable aggregate — see `metaAggsOf` for when each
  * routes here.
  */
private[io] sealed trait LakeMetaAgg
private[io] object LakeMetaAgg {
  case object Count extends LakeMetaAgg
  final case class MinOf(col: String) extends LakeMetaAgg
  final case class MaxOf(col: String) extends LakeMetaAgg
}

/** Metadata-only aggregation: COUNT(*) from per-directory row counts,
  * MIN/MAX of partition columns from the directory names themselves,
  * optionally grouped by partition columns (grouping by a PREFIX of
  * the partition columns sums/folds the deeper leaves). Driver-local
  * InternalRows planned as a LocalTableScan — the physical proof is
  * the ABSENCE of any file scan in the executed plan (spec-pinned
  * through [[LakeScanCheck]]).
  *
  * Directory names parse back to typed values through Catalyst's own
  * string cast (the same semantics Spark's partition inference
  * applies), with `__HIVE_DEFAULT_PARTITION__` as null. MIN/MAX skip
  * nulls (SQL semantics) and skip directories whose exact row count is
  * ZERO (a value a no-row partition would otherwise contribute); the
  * scan builder only routes here for snapshots whose counts are exact
  * (no live deltas / legacy files).
  */
private[io] class LakeMetadataAggScan(m: PartitionedLake.Manifest,
    schema: StructType, groupCols: Seq[String], aggs: Seq[LakeMetaAgg],
    claimed: Array[Filter] = Array.empty)
    extends LocalScan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

  private def outField(a: LakeMetaAgg, i: Int): StructField = a match {
    case LakeMetaAgg.Count =>
      StructField(s"count$i", LongType, nullable = false)
    case LakeMetaAgg.MinOf(c) =>
      StructField(s"min$i", schema(c).dataType, nullable = true)
    case LakeMetaAgg.MaxOf(c) =>
      StructField(s"max$i", schema(c).dataType, nullable = true)
  }

  override def readSchema(): StructType = StructType(
    groupCols.map(c => schema(c)) ++ aggs.zipWithIndex.map {
      case (a, i) => outField(a, i) })

  /** The one global-empty answer (count 0, min/max null — SQL
    * semantics for an aggregate over zero rows), shared by the
    * empty-snapshot branch and the all-dirs-empty grouping fold.
    */
  private def emptyGlobalRow: Array[InternalRow] =
    Array(InternalRow.fromSeq(aggs.map {
      case LakeMetaAgg.Count => 0L
      case _ => null
    }))

  private lazy val grouped: Array[InternalRow] =
    // a fully-emptied snapshot has NO directories to derive partition
    // columns from: a global aggregate still yields its one SQL-shaped
    // row, a grouped one yields zero groups
    if (m.files.isEmpty) {
      if (groupCols.isEmpty) emptyGlobalRow else Array.empty
    } else groupedNonEmpty

  private def groupedNonEmpty: Array[InternalRow] = {
    val partCols = PartitionedLake.partitionColsOf(m)
    // the shared dirname->typed-value parser (one bound Cast per
    // partition column — see [[LakeDirValues]] for the 200k-dir
    // measurement that shaped it)
    val parser = new LakeDirValues(partCols, schema)
    def valueOf(dir: String, col: String): Any = parser.valueOf(dir, col)
    def ordering(col: String): Ordering[Any] =
      org.apache.spark.sql.catalyst.util.TypeUtils
        .getInterpretedOrdering(schema(col).dataType)
    // CLAIMED partition filters evaluate per directory with the same
    // exact three-valued semantics the engine would apply per row —
    // a claimed `day = X` keeps exactly X's directories, so the
    // filtered count is the filtered snapshot's count. (compile
    // cannot fail here: the builder only claims what compiled.)
    val preds = claimed.toSeq.map(f => LakeFilters.compile(f,
      c => schema.fields.find(_.name == c).map(_.dataType)).get)
    def keep(dir: String): Boolean =
      LakeFilters.dirMatches(preds, parser)(dir)
    // 0-row directories (exact counts, all rows deleted but the dir
    // retained) are dropped BEFORE grouping: a real scan produces no
    // group for zero rows, so the metadata answer must not either —
    // and their values must not reach MIN/MAX. Without this, GROUP BY
    // part -> COUNT(*) could emit a (part, 0) row the degrade path
    // would never return (found in review).
    val perDir = m.files.toSeq.filter(e => keep(e._1))
      .map { case (dir, entries) =>
        (groupCols.map(valueOf(dir, _)), dir, entries.flatMap(_.rows).sum)
      }.filter(_._3 > 0)
    val byKey = perDir.groupBy(_._1).toSeq
    val rows = byKey.map { case (key, dirs) =>
      val out = aggs.map {
        case LakeMetaAgg.Count => dirs.map(_._3).sum
        case LakeMetaAgg.MinOf(c) =>
          val vs = dirs.map(d => valueOf(d._2, c)).filter(_ != null)
          if (vs.isEmpty) null else vs.min(ordering(c))
        case LakeMetaAgg.MaxOf(c) =>
          val vs = dirs.map(d => valueOf(d._2, c)).filter(_ != null)
          if (vs.isEmpty) null else vs.max(ordering(c))
      }
      InternalRow.fromSeq(key ++ out)
    }
    // every directory held zero rows: same shape as the empty snapshot
    if (groupCols.isEmpty && rows.isEmpty) emptyGlobalRow
    else rows.toArray
  }

  override def rows(): Array[InternalRow] = grouped

  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    // a CONSERVATIVE per-row width (the table is driver-local and at
    // most partition-count rows): without a size, Spark assumes
    // defaultSizeInBytes and a join against the tiny metadata result
    // silently loses its broadcast (the deleted LakeCountScan reported
    // 8*n — found in review)
    new LakeStatistics(
      Some(grouped.length.toLong * 64L * (groupCols.size + aggs.size) + 64L),
      Some(grouped.length.toLong))

  override def description(): String = {
    val what = aggs.map {
      case LakeMetaAgg.Count => "count(*)"
      case LakeMetaAgg.MinOf(c) => s"min($c)"
      case LakeMetaAgg.MaxOf(c) => s"max($c)"
    }.mkString(", ")
    val by = if (groupCols.isEmpty) "" else s" by ${groupCols.mkString(", ")}"
    val where = if (claimed.isEmpty) ""
      else s" where ${claimed.mkString(" AND ")}"
    s"GraftLakeMetadataAgg($what$by$where)"
  }
}

/** Everything that actually reads data: delegate to the SAME plan the
  * Scala API builds — scoped to the table's PINNED manifest, so the
  * scan, the table schema, the statistics, and the metadata-count path
  * all describe ONE snapshot. (An earlier form re-resolved the latest
  * manifest at scan time; a commit racing the query could then make
  * `df.count()` — answered from the pinned metadata — disagree with
  * `df.collect()`, and let the pinned statistics under-describe the
  * newer data, the underestimate→broadcast-OOM direction.)
  * Pruned and filtered, surfaced through the `V1Scan` migration shim.
  */
private[io] class LakeV1FallbackScan(path: String, version: Option[Long],
    required: StructType, filters: Array[Filter],
    manifest: Option[PartitionedLake.Manifest])
    extends V1Scan
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = required

  /** Whole-snapshot size/rows from the pinned manifest (the
    * conservative report: column pruning and pushed filters can only
    * make the real scan SMALLER than this, so broadcast decisions err
    * safe).
    */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    new LakeStatistics(
      manifest.flatMap(PartitionedLake.metadataSizeBytes),
      manifest.flatMap(PartitionedLake.metadataRowCount))

  override def toV1TableScan[T <: BaseRelation with TableScan](
      context: SQLContext): T =
    new LakeFrameRelation(context, LakeFrameRelation.pruned(
      LakeFrameRelation.snapshotFrame(context.sparkSession, path, manifest),
      required.fieldNames.toIndexedSeq, filters), required).asInstanceOf[T]

  override def description(): String =
    s"GraftLakeScan($path${version.map(v => s"@v$v").getOrElse("")})"
}

/** `spark.read.format("graft-lake-v2")` — the registered DSv2 form.
  * Options: `path` (required), `versionAsOf` (optional time travel).
  * SQL INSERT INTO / INSERT OVERWRITE work on tables resolved through
  * this provider too (the table is [[GraftLakeTable]], same as the
  * catalog route); KEYED upserts and the exactly-once streaming sink
  * remain v1 `graft-lake` format surfaces, whose semantics are
  * option-driven v1-API shapes.
  */
class LakeTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-lake-v2"

  // CREATE TABLE ... USING graft-lake-v2 stores a schema; the lake's
  // manifest stays authoritative at read (parquet by-name reads make
  // the stored copy advisory), so external metadata is accepted
  override def supportsExternalMetadata(): Boolean = true

  private def pathOf(options: CaseInsensitiveStringMap): String =
    Option(options.get("path")).getOrElse(
      sys.error("graft-lake-v2 requires .option(\"path\", <lake root>)"))
  // same vocabulary as SQL VERSION AS OF — the DataFrame API must not
  // lag the SQL surface on how a snapshot is addressed
  private def versionOf(options: CaseInsensitiveStringMap,
      path: String): Option[Long] =
    Option(options.get("versionAsOf")).map(LakeIdent.resolveVersion(
      SparkSession.active, path, _, branchOf(options), "versionAsOf"))

  // per-read branch pin — `.option("branch", "etl_audit")` resolves
  // the read against the branch's manifest namespace at table
  // construction, like versionAsOf (see [[GraftLakeTable]]'s notes)
  private def branchOf(
      options: CaseInsensitiveStringMap): Option[String] =
    Option(options.get("branch")).map(_.trim).filter(_.nonEmpty)

  // one load() calls inferSchema + inferPartitioning + getTable on the
  // SAME freshly-instantiated provider — memoize the resolved table so
  // a single load resolves the manifest once, not three times (at the
  // manifest ceiling each resolve is a real driver read). Providers are
  // instantiated per lookup, so the memo never outlives one load and
  // cannot pin a stale snapshot across queries (spec-pinned: a commit
  // between two load()s is visible to the second).
  private var memo
      : Option[(String, Option[Long], Option[String], GraftLakeTable)] = None
  private def tableFor(path: String, version: Option[Long],
      branch: Option[String]): GraftLakeTable = synchronized {
    memo match {
      case Some((p, v, b, t)) if p == path && v == version && b == branch =>
        t
      case _ =>
        val t = new GraftLakeTable(path, version, branch)
        memo = Some((path, version, branch, t))
        t
    }
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val p = pathOf(options)
    tableFor(p, versionOf(options, p), branchOf(options)).schema
  }

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val options = new CaseInsensitiveStringMap(properties)
    val p0 = pathOf(options)
    val table = tableFor(p0, versionOf(options, p0), branchOf(options))
    // a user-declared schema (.schema(...) / CREATE TABLE columns) is
    // accepted only when it MATCHES the manifest's (names + types,
    // nullability ignored — the manifest stores everything nullable):
    // silently replacing a mismatched declaration would surface as
    // downstream analysis errors pointing nowhere near the cause
    def normalized(s: StructType): Seq[(String, org.apache.spark.sql.types.DataType)] =
      s.fields.toSeq.map(f => (f.name, f.dataType))
    if (schema.fields.nonEmpty &&
        normalized(schema) != normalized(table.schema)) {
      val declared = schema.fields.map(f =>
        s"${f.name}: ${f.dataType.simpleString}").mkString(", ")
      val actual = table.schema.fields.map(f =>
        s"${f.name}: ${f.dataType.simpleString}").mkString(", ")
      sys.error("graft-lake-v2: the declared schema does not match the " +
        s"lake's manifest schema.\n  declared: $declared\n  manifest: " +
        s"$actual\nDrop the .schema(...) call (the manifest is " +
        "authoritative) or re-declare the table to match.")
    }
    table
  }
}

/** A lake identifier, parsed ONCE — the one grammar every
  * [[LakeCatalog]] entry point reads:
  *
  * {{{
  * <path>[#branch=<name>][#history|#tags|#branches|#files|#partitions
  *   |#constraints|#changes?from=<v>&to=<v>&keyCols=<c1,c2>[&granularity=net|commit]]
  * }}}
  *
  * The suffixes ride the identifier because a SQL-extension verb
  * (DESCRIBE HISTORY, ...) would buy the same words for a parser fork.
  * Hadoop keeps `#` as a literal path character, so CREATE, ALTER and
  * DROP refuse every suffix: a lake in a directory named `t#tags` would
  * be unreachable, since every read of that identifier resolves as the
  * `#tags` table of `t`.
  *
  * What each form returns, and how it time-travels. `VERSION AS OF`
  * takes a snapshot number or a main-line tag name
  * ([[LakeIdent.resolveVersion]]); under a `#branch=` pin only a number
  * of the branch's own line. `TIMESTAMP AS OF` resolves to the newest
  * version published at or before it, and refuses under a pin (a branch
  * is a moving staged line).
  *
  *  - no suffix: the lake's data ([[GraftLakeTable]]); time-travels.
  *  - `#branch=<name>`: the per-read branch pin — the branch's own
  *    snapshot line, reconciled with the ambient
  *    [[PartitionedLake.BranchKey]] (a different ambient branch
  *    refuses). Composes with no suffix, `#files`, `#partitions`,
  *    `#constraints` and `#changes`.
  *  - `#files`: one row per live data file and delta sidecar;
  *    `#partitions`: one row per partition directory (counts, bytes,
  *    and a row count that is null where metadata cannot know);
  *    `#constraints`: one row per ENFORCED CHECK. These describe ONE
  *    snapshot, answered from its manifest alone, so they time-travel
  *    and take the branch pin.
  *  - `#history`: one audit row per retained snapshot
  *    ([[PartitionedLake.history]]); `#tags`: one row per named ref;
  *    `#branches`: one row per staged branch. These list the WHOLE lake
  *    as it is now: no time travel, no branch pin.
  *  - `#changes?...`: the row-level change feed between two snapshots
  *    ([[PartitionedLake.changesBetween]]); `from`/`to` use the
  *    `VERSION AS OF` vocabulary (numbers only under a pin) and
  *    `granularity=commit` adds `_commit_version`. Its endpoints are
  *    already explicit versions: no time travel.
  */
private[io] final case class LakeIdent(base: String, branch: Option[String],
    meta: Option[LakeMeta])

private[io] object LakeIdent {
  private val BranchMarker = "#branch="

  def parse(path: String): LakeIdent = {
    val changesAt = path.indexOf(LakeMeta.ChangesMarker)
    val (head, meta) =
      if (changesAt >= 0) (path.take(changesAt), Some(LakeMeta.Changes(
        path.drop(changesAt + LakeMeta.ChangesMarker.length))))
      else LakeMeta.bySuffix.find(m => path.endsWith(m.suffix))
        .map(m => (path.stripSuffix(m.suffix), Some(m)))
        .getOrElse((path, None))
    head.indexOf(BranchMarker) match {
      case -1 => LakeIdent(head, None, meta)
      case i => LakeIdent(head.take(i),
        Some(head.drop(i + BranchMarker.length)), meta)
    }
  }

  /** The ONE snapshot-ref vocabulary of every read surface — SQL
    * `VERSION AS OF`, the `#changes` endpoints, and the `versionAsOf`
    * option of both formats: a number is a snapshot version, anything
    * else a named tag ([[PartitionedLake.tag]]). Tags are MAIN-LINE
    * refs, so under a branch pin only numbers (of the branch's own
    * line) resolve. `what` names the surface in the error.
    */
  def resolveVersion(spark: SparkSession, path: String, ref: String,
      branchPin: Option[String], what: String): Long =
    ref.toLongOption.getOrElse {
      branchPin.foreach(b => sys.error(
        s"$what '$ref' under the branch pin '$b' must be a numeric " +
          "version of the branch's own line — tags are main-line refs"))
      PartitionedLake.tagVersion(spark, path, ref).getOrElse {
        val tags = PartitionedLake.tags(spark, path)
        // the few most recent versions: the full list of a huge
        // retained window would be an unbounded render in an error path
        val vs = PartitionedLake.snapshots(spark, path)
        sys.error(s"$what '$ref' is neither a numeric snapshot version " +
          s"nor a tag on $path; tags: " +
          (if (tags.isEmpty) "(none)"
           else tags.map { case (n, v) => s"$n->$v" }.mkString(", ")) +
          "; versions: " +
          (if (vs.size <= 10) vs.mkString(", ")
           else s"... ${vs.takeRight(10).mkString(", ")} " +
             s"(${vs.size} retained)"))
      }
    }
}

/** A metadata-table suffix ([[LakeIdent]]). `timeTravelRefusal` says
  * why the table refuses time travel (None: it describes one snapshot
  * and time-travels); `wholeLake` tables list every line of the lake,
  * so a branch pin means nothing to them.
  */
private[io] sealed abstract class LakeMeta(val suffix: String,
    val timeTravelRefusal: Option[String], val wholeLake: Boolean)

private[io] object LakeMeta {
  val ChangesMarker = "#changes"

  case object History extends LakeMeta("#history", Some("the history " +
    "table is derived from ALL retained snapshots and cannot be pinned " +
    "to one"), wholeLake = true)
  case object Tags extends LakeMeta("#tags",
    Some("the tag listing is current-state metadata"), wholeLake = true)
  case object Branches extends LakeMeta("#branches",
    Some("the branch listing is current-state metadata"), wholeLake = true)
  case object Files extends LakeMeta("#files", None, wholeLake = false)
  case object Partitions extends LakeMeta("#partitions", None,
    wholeLake = false)
  case object Constraints extends LakeMeta("#constraints", None,
    wholeLake = false)
  /** `query` is everything after `#changes`, parsed at load. */
  final case class Changes(query: String) extends LakeMeta(ChangesMarker,
    Some("the feed's endpoints are already explicit versions (its " +
      "from=/to= parameters)"), wholeLake = false)

  val bySuffix: Seq[LakeMeta] =
    Seq(History, Tags, Branches, Files, Partitions, Constraints)
}

/** The ONE metadata-table class: every `#suffix` table of
  * [[LakeIdent]] is a name, a schema and a driver-built frame, scanned
  * through [[LakeFrameRelation]]. The frame is LAZY: analysis may
  * re-resolve an identifier several times and each `loadTable` builds a
  * fresh table, so only the scan that is planned builds its frame, once.
  */
private[io] class GraftLakeMetaTable(override val name: String,
    override val schema: StructType, label: String, frame: => DataFrame)
    extends Table with SupportsRead {
  private lazy val df = frame
  override def capabilities(): util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : ScanBuilder = () => new V1Scan {
    override def readSchema(): StructType = df.schema
    override def toV1TableScan[T <: BaseRelation with TableScan](
        context: SQLContext): T =
      new LakeFrameRelation(context, df).asInstanceOf[T]
    override def description(): String = label
  }
}

/** A path catalog for SQL-first lake access:
  *
  * {{{
  * SET spark.sql.catalog.lake = graft.io.LakeCatalog  // or session conf
  * SELECT count(*) FROM lake.`/data/events`            -- metadata-only
  * SELECT * FROM lake.`/data/events` VERSION AS OF 3   -- SQL time travel
  * }}}
  *
  * The identifier IS the lake path (namespace parts, if any, join with
  * '/'), so any lake is queryable without a CREATE TABLE step — the
  * manifest is the table metadata. A path may carry a branch pin and a
  * metadata-table suffix; [[LakeIdent]] holds that grammar and the
  * time-travel rules of each suffix, and every entry point below reads
  * the one parsed value. `VERSION AS OF` resolves through the
  * [[TableCatalog]] versioned-load hook, which is what upgrades time
  * travel from a format option to real SQL syntax. `INSERT INTO` /
  * `INSERT OVERWRITE` write through the commit protocol
  * ([[LakeWriteBuilder]]); CREATE/ALTER/DROP address a lake path
  * (never a suffix) and RENAME refuses with directions (documented on
  * each mutation method).
  */
class LakeCatalog extends TableCatalog
    with org.apache.spark.sql.connector.catalog.ProcedureCatalog {
  private var catalogName: String = "graft-lake"

  /** Column DEFAULT values are supported in DDL (`CREATE TABLE (c INT
    * DEFAULT 5)`, `ADD COLUMNS (c STRING DEFAULT 'web')`, `ALTER
    * COLUMN ... SET/DROP DEFAULT`) — without this capability the
    * analyzer refuses the syntax before the catalog ever sees it. The
    * INSERT-side application (missing columns, the DEFAULT keyword) is
    * metadata-driven and needs no capability.
    */
  override def capabilities(): java.util.Set[
      org.apache.spark.sql.connector.catalog.TableCatalogCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      org.apache.spark.sql.connector.catalog
        .TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT)

  /** `CALL <catalog>.system.compact(...)` / `vacuum(...)` — the
    * maintenance surface ([[LakeProcedures]]). The bare name (no
    * `system` namespace) resolves too: path-shaped namespaces are
    * table identifiers in this catalog, never procedure homes.
    */
  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    val nsOk = ident.namespace().isEmpty ||
      ident.namespace().sameElements(Array("system"))
    if (!nsOk) sys.error(
      s"unknown procedure namespace ${ident.namespace().mkString(".")}: " +
        "lake procedures live under `system`")
    LakeProcedures.load(ident.name()).getOrElse(sys.error(
      s"unknown procedure ${ident.name()} — available: " +
        LakeProcedures.names.map(n => s"system.$n").mkString(", ")))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      LakeProcedures.names
        .map(n => Identifier.of(Array("system"), n)).toArray
    else Array.empty

  override def initialize(name: String,
      options: CaseInsensitiveStringMap): Unit = catalogName = name

  override def name(): String = catalogName

  private def pathOf(ident: Identifier): String =
    (ident.namespace() :+ ident.name()).mkString("/")

  private def exists(path: String): Boolean = {
    val spark = SparkSession.active
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // listing-only: resolving (reading + parsing) the full manifest
    // here would pay the driver read TWICE per catalog-routed query —
    // once for this boolean, once when GraftLakeTable resolves its
    // pinned snapshot. At the manifest ceiling the provider memo warns
    // about (~100 MB), the duplicate read is real money.
    PartitionedLake.latestVersion(spark, path).isDefined ||
      (fs.exists(root) && fs.listStatus(root).nonEmpty)
  }

  private def spark: SparkSession = SparkSession.active

  /** Every read entry point: `asOf` is `VERSION AS OF` (Left) or
    * `TIMESTAMP AS OF` in epoch micros (Right). Refusals that need no
    * storage fire first; then ONE existence probe (for `#history` its
    * listing doubles as the probe, reused by the scan); then the
    * version resolves and the table is built.
    */
  private def load(ident: Identifier,
      asOf: Option[Either[String, Long]]): Table = {
    val path = pathOf(ident)
    val id = LakeIdent.parse(path)
    val base = id.base
    // which refusal wins: #changes (pinned or not), then TIMESTAMP
    // under a pin, then the other suffixes
    def refuseTimeTravel(m: LakeMeta): Unit =
      m.timeTravelRefusal.foreach(why => sys.error(
        s"VERSION AS OF / TIMESTAMP AS OF on a ${m.suffix} table is not " +
          s"supported: $why — query it unversioned"))
    if (asOf.isDefined) {
      id.meta.collect { case c: LakeMeta.Changes => refuseTimeTravel(c) }
      if (asOf.exists(_.isRight)) id.branch.foreach(b => sys.error(
        s"TIMESTAMP AS OF on a #branch= table is not supported: branch " +
          s"'$b' is a moving staged line — pin it by numeric VERSION " +
          "AS OF instead"))
      id.meta.foreach(refuseTimeTravel)
    }
    for (m <- id.meta if m.wholeLake; b <- id.branch) sys.error(
      s"${m.suffix} does not take a branch pin (#branch=$b): it lists " +
        s"the whole lake — query `$base${m.suffix}`")
    val listing =
      if (id.meta.contains(LakeMeta.History))
        PartitionedLake.historyListing(spark, base)
      else Nil
    if (listing.isEmpty && !exists(base)) throw new NoSuchTableException(ident)
    val version = asOf.map {
      case Left(v) => LakeIdent.resolveVersion(spark, base, v, id.branch,
        "VERSION AS OF")
      case Right(micros) =>
        PartitionedLake.versionAt(spark, base, Math.floorDiv(micros, 1000L))
          .getOrElse(sys.error(s"no snapshot of $base was published at or " +
            "before the requested timestamp (the lake is younger, or the " +
            "in-window versions were vacuumed)"))
    }
    id.meta match {
      case None => new GraftLakeTable(base, version, id.branch)
      case Some(m) =>
        id.branch.foreach(PartitionedLake.requireRefName("branch", _))
        def table(schema: StructType, frame: => DataFrame) =
          new GraftLakeMetaTable(path + version.fold("")(v => s"@v$v"),
            schema, s"GraftLake${m.suffix.drop(1).capitalize}($base)", frame)
        m match {
          case LakeMeta.History => table(PartitionedLake.historySchema,
            PartitionedLake.historyFrom(spark, base, listing))
          case LakeMeta.Tags => table(PartitionedLake.tagsSchema,
            PartitionedLake.tagsFrame(spark, base))
          case LakeMeta.Branches => table(PartitionedLake.branchesSchema,
            PartitionedLake.branchesFrame(spark, base))
          case LakeMeta.Files => table(PartitionedLake.filesSchema,
            PartitionedLake.filesFrameMeta(spark, base, version, id.branch))
          case LakeMeta.Partitions => table(PartitionedLake.partitionsSchema,
            PartitionedLake.partitionsFrameMeta(spark, base, version,
              id.branch))
          case LakeMeta.Constraints => table(
            PartitionedLake.constraintsSchema,
            PartitionedLake.constraintsFrameMeta(spark, base, version,
              id.branch))
          case LakeMeta.Changes(query) => changesTable(id, query)
        }
    }
  }

  /** `#changes?from=F&to=T&keyCols=a,b[&granularity=...]` — every
    * parameter validated loudly (an unknown or misspelled key must not
    * silently change feed semantics; same rule as the batch format's
    * granularity validation). The feed's schema comes from the `to`
    * manifest header alone: its columns, all nullable (pre-images of
    * since-added columns carry null), plus `_change_type` (and
    * `_commit_version` per commit) — `changesBetween`'s column set,
    * spec-pinned against the API's output.
    */
  private def changesTable(id: LakeIdent, query: String): Table = {
    val usage = "expected `<lake>#changes?from=<v>&to=<v>&keyCols=" +
      "<c1,c2>[&granularity=net|commit]`"
    if (!query.startsWith("?")) sys.error(s"malformed #changes table: $usage")
    val params = query.drop(1).split('&').filter(_.nonEmpty).map { kv =>
      val i = kv.indexOf('=')
      if (i <= 0) sys.error(s"malformed #changes parameter '$kv': $usage")
      kv.take(i) -> kv.drop(i + 1)
    }.toMap
    val unknown = params.keySet -- Set("from", "to", "keyCols", "granularity")
    if (unknown.nonEmpty) sys.error(
      s"unknown #changes parameter(s) ${unknown.mkString(", ")}: $usage")
    def need(k: String): String =
      params.getOrElse(k, sys.error(s"#changes requires '$k': $usage"))
    def version(k: String): Long = LakeIdent.resolveVersion(spark, id.base,
      need(k), id.branch, s"#changes $k")
    val (from, to) = (version("from"), version("to"))
    val (keyCols, perCommit) =
      PartitionedLake.changeFeedOptions("#changes", params)
    // a pin is reconciled with the ambient conf HERE (a conflict refuses
    // at load); an unpinned feed resolves the ambient conf when the scan
    // builds its frame, as every unpinned read does.
    // schemaAt reads the manifest header only — NOT manifestAt, whose
    // retired-directory walk lists the partition tree, waste for a
    // schema at every analysis re-resolution
    val base = PartitionedLake.schemaAt(spark, id.base, to,
      PartitionedLake.resolveReadBranch(id.branch))
    val schema = StructType(base.fields.map(_.copy(nullable = true)) ++
      (StructField("_change_type", org.apache.spark.sql.types.StringType)
        +: (if (perCommit) Seq(StructField("_commit_version", LongType))
            else Nil)))
    new GraftLakeMetaTable(
      id.base + id.branch.fold("")(b => s"#branch=$b") +
        s"#changes?from=$from&to=$to" +
        (if (perCommit) "&granularity=commit" else ""),
      schema, s"GraftLakeChanges(${id.base}, v$from..v$to)",
      PartitionedLake.changesBetweenOn(spark, id.base, from, to, keyCols,
        perCommit, PartitionedLake.resolveReadBranch(id.branch)))
  }

  override def loadTable(ident: Identifier): Table = load(ident, None)

  /** `VERSION AS OF`: string versions are legal SQL here (Iceberg's tag
    * syntax) — a non-numeric version resolves through the lake's named
    * tags ([[LakeIdent.resolveVersion]]).
    */
  override def loadTable(ident: Identifier, version: String): Table =
    load(ident, Some(Left(version)))

  /** `TIMESTAMP AS OF` — the engine hands epoch MICROseconds; resolve
    * to the newest version published at or before it (manifest mtime,
    * Delta's semantics — [[PartitionedLake.versionAt]]) and pin that.
    */
  override def loadTable(ident: Identifier, timestampMicros: Long): Table =
    load(ident, Some(Right(timestampMicros)))

  override def tableExists(ident: Identifier): Boolean =
    exists(LakeIdent.parse(pathOf(ident)).base)

  /** The lake path a DDL statement addresses. Every [[LakeIdent]]
    * suffix refuses: a metadata table or a branch pin is a read-only
    * view, and Hadoop keeps `#` literal, so creating one would publish a
    * lake in a directory no read can reach.
    */
  private def ddlPathOf(ident: Identifier, op: String): String = {
    val path = pathOf(ident)
    val base = LakeIdent.parse(path).base
    if (base != path) sys.error(
      s"cannot $op `$path`: the suffix ${path.drop(base.length)} names a " +
        s"read-only view of the lake at $base, not a table — $op the " +
        "lake itself")
    path
  }

  // a path catalog has no enumerable namespace — tables are lakes on
  // storage, addressed by path, not listed from a metastore
  override def listTables(namespace: Array[String]): Array[Identifier] =
    Array.empty

  private def readOnly(op: String): Nothing =
    throw new UnsupportedOperationException(
      s"LakeCatalog does not support $op: evolve a lake's schema through " +
        "additive writes (upsert/append with new columns), and move one " +
        "by moving its directory — the path IS the table identity")

  /** `CREATE TABLE lake.`/path`` (col, ...) PARTITIONED BY (col, ...)`
    * — and CTAS, which the engine runs as create + append: publish an
    * EMPTY version-1 manifest with the declared schema and a
    * `meta:partition-cols=` layout, making the table immediately
    * insertable. Only identity partition transforms are meaningful
    * here (the lake's physical layout is Hive directories); bucket/
    * days/hours transforms refuse with that explanation.
    */
  /** The TableInfo overload is where `CREATE TABLE ... CONSTRAINT c
    * CHECK (...)` arrives — the default delegation would silently DROP
    * the constraints on the way to the StructType overload. ENFORCED
    * CHECKs persist (an empty table satisfies them trivially); other
    * constraint types refuse with the ALTER surface's vocabulary.
    */
  override def createTable(ident: Identifier,
      info: org.apache.spark.sql.connector.catalog.TableInfo): Table = {
    pendingCreateChecks = info.constraints().toSeq.map {
      case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
        if (!c.enforced()) sys.error(
          "CREATE TABLE ... CHECK ... NOT ENFORCED is not supported: " +
            "this lake persists only constraints it ENFORCES on every " +
            "write")
        c.name() -> c.predicateSql()
      case other => sys.error(
        s"constraint type not supported by LakeCatalog: ${other.toDDL} " +
          "— only ENFORCED CHECK constraints are supported")
    }
    try createTable(ident, info.schema(), info.partitions(),
      info.properties())
    finally pendingCreateChecks = Nil
  }

  // CREATE-time constraints ride from the TableInfo overload to the
  // StructType overload's createEmpty call (the engine may invoke
  // either entry point; loadTable never reads this)
  private var pendingCreateChecks: Seq[(String, String)] = Nil

  override def createTable(ident: Identifier, schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val path = ddlPathOf(ident, "CREATE")
    val cols = partitions.toSeq.map {
      case t if t.name == "identity" && t.references.length == 1 &&
          t.references.head.fieldNames.length == 1 =>
        t.references.head.fieldNames.head
      case t => sys.error(s"only identity PARTITIONED BY columns are " +
        s"supported (the physical layout is Hive directories), got: $t — " +
        "pre-compute a derived column (e.g. a date bucket) and partition " +
        "by it")
    }
    if (cols.isEmpty) sys.error(
      "a graft lake is partitioned by construction: CREATE TABLE needs " +
        "PARTITIONED BY (<col>, ...)")
    // properties this catalog cannot honor REFUSE rather than silently
    // drop (the repo-wide rule: an option must never silently change —
    // or lose — semantics). The engine itself injects provider/owner
    // and option.* copies; LOCATION conflicts with the path identity,
    // COMMENT/TBLPROPERTIES have nowhere to persist.
    val ignorable = Set("provider", "owner")
    val unsupported = {
      import scala.jdk.CollectionConverters._
      properties.keySet.asScala.filterNot(k =>
        ignorable.contains(k) || k.startsWith("option."))
    }
    if (unsupported.nonEmpty) sys.error(
      s"CREATE TABLE propert${if (unsupported.size == 1) "y" else "ies"} " +
        s"not supported by LakeCatalog: ${unsupported.mkString(", ")} — " +
        "the path is the location, and the manifest stores no free-form " +
        "table properties")
    if (tableExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException(ident)
    // a racing CREATE can land between the check and the publish; the
    // lost race surfaces from createEmpty as the DEDICATED already-exists
    // type (matched here by TYPE, not message text, so an unrelated
    // publish failure can never be swallowed by IF NOT EXISTS)
    try PartitionedLake.createEmpty(SparkSession.active, path, schema,
      cols, pendingCreateChecks)
    catch {
      case _: PartitionedLake.LakeAlreadyExistsException =>
        throw new org.apache.spark.sql.catalyst.analysis
          .TableAlreadyExistsException(ident)
    }
    new GraftLakeTable(path, None)
  }

  /** `ALTER TABLE` — exactly the two schema evolutions the snapshot
    * protocol expresses as manifest-only commits:
    *
    *  - `RENAME COLUMN` routes to [[PartitionedLake.renameColumn]]
    *    (stable-id rebind + per-file physical-name pins; old files
    *    stay readable, zero data jobs);
    *  - `ADD COLUMNS` (top-level, nullable, appended) routes to
    *    [[PartitionedLake.addColumns]] (widened schema with fresh ids;
    *    old files read typed nulls — the additive evolution the API
    *    write paths already practice);
    *  - `DROP COLUMN` (top-level) routes to
    *    [[PartitionedLake.dropColumn]] (manifest-only: the id
    *    tombstones so it is never reused, dead bytes are pinned so a
    *    re-added name reads typed nulls, compact() rewrites them away);
    *  - `ALTER COLUMN ... TYPE` routes to
    *    [[PartitionedLake.widenColumnType]] (manifest-only, WIDENING
    *    promotions only — old files read the narrower physical values
    *    natively under the wider schema; lossy changes refuse).
    *
    * Everything else — narrowing type changes, nested edits,
    * positioned adds, NOT NULL, defaults, comments, properties —
    * refuses loudly: the manifest stores none of it, and a silent
    * partial apply would be worse than the error.
    */
  override def alterTable(ident: Identifier,
      changes: org.apache.spark.sql.connector.catalog.TableChange*): Table = {
    import org.apache.spark.sql.connector.catalog.TableChange
    val path = ddlPathOf(ident, "ALTER")
    if (!exists(path)) throw new NoSuchTableException(ident)
    val spark = SparkSession.active
    changes.foreach {
      case r: TableChange.RenameColumn =>
        if (r.fieldNames().length != 1) sys.error(
          "ALTER TABLE ... RENAME COLUMN supports top-level columns " +
            s"only, got nested field ${r.fieldNames().mkString(".")}")
        PartitionedLake.renameColumn(spark, path,
          r.fieldNames().head, r.newName())
      case a: TableChange.AddColumn =>
        if (a.fieldNames().length != 1) sys.error(
          "ALTER TABLE ... ADD COLUMNS supports top-level columns " +
            s"only, got nested field ${a.fieldNames().mkString(".")}")
        if (a.position() != null) sys.error(
          "ALTER TABLE ... ADD COLUMNS supports appending only (column " +
            "order is storage order; FIRST/AFTER would imply a rewrite)")
        if (!a.isNullable) sys.error(
          "ALTER TABLE ... ADD COLUMNS requires nullable columns: " +
            "every pre-existing row reads the column's default (NULL " +
            "when none is declared)")
        // DEFAULT: persist Spark's two metadata keys on the field —
        // CURRENT_DEFAULT (the original SQL, fills unspecified INSERT
        // columns from now on) and EXISTS_DEFAULT (the constant-folded
        // value, what every file PREDATING the column reads — old and
        // new rows agree, which is exactly what the pre-defaults
        // refusal said a naive default would break). Validated here at
        // ALTER time: parse + fold + cast to the column type.
        val md = Option(a.defaultValue()).map { dv =>
          import org.apache.spark.sql.catalyst.util.{
            ResolveDefaultColumns => Rdc}
          val l = dv.getValue()
          val existsSql = org.apache.spark.sql.catalyst.expressions
            .Literal(l.value(), l.dataType()).sql
          val currentSql =
            Option(dv.getSql()).filter(_.nonEmpty).getOrElse(existsSql)
          Rdc.analyze(a.fieldNames().head, a.dataType(), currentSql,
            "ALTER TABLE ... ADD COLUMNS")
          new org.apache.spark.sql.types.MetadataBuilder()
            .putString(Rdc.CURRENT_DEFAULT_COLUMN_METADATA_KEY, currentSql)
            .putString(Rdc.EXISTS_DEFAULT_COLUMN_METADATA_KEY, existsSql)
            .build()
        }.getOrElse(org.apache.spark.sql.types.Metadata.empty)
        PartitionedLake.addColumns(spark, path, Seq(
          org.apache.spark.sql.types.StructField(
            a.fieldNames().head, a.dataType(), nullable = true, md)))
      case d: TableChange.DeleteColumn =>
        if (d.fieldNames().length != 1) sys.error(
          "ALTER TABLE ... DROP COLUMN supports top-level columns " +
            s"only, got nested field ${d.fieldNames().mkString(".")}")
        PartitionedLake.dropColumn(spark, path, d.fieldNames().head)
      case t: TableChange.UpdateColumnType =>
        if (t.fieldNames().length != 1) sys.error(
          "ALTER TABLE ... ALTER COLUMN ... TYPE supports top-level " +
            s"columns only, got nested field ${t.fieldNames().mkString(".")}")
        PartitionedLake.widenColumnType(spark, path,
          t.fieldNames().head, t.newDataType())
      case u: TableChange.UpdateColumnDefaultValue =>
        if (u.fieldNames().length != 1) sys.error(
          "ALTER TABLE ... ALTER COLUMN ... SET/DROP DEFAULT supports " +
            "top-level columns only, got nested field " +
            u.fieldNames().mkString("."))
        // SET rewrites the CURRENT default (future inserts); DROP
        // arrives as no default or one with empty SQL text. The
        // EXISTENCE default — what old files read — stays pinned at its
        // ADD-time value by design.
        PartitionedLake.setColumnCurrentDefault(spark, path,
          u.fieldNames().head,
          Option(u.newCurrentDefault()).flatMap(d => Option(d.getSql))
            .map(_.trim).filter(_.nonEmpty))
      case ac: TableChange.AddConstraint =>
        ac.constraint() match {
          case c: org.apache.spark.sql.connector.catalog.constraints
              .Check =>
            if (!c.enforced()) sys.error(
              "ALTER TABLE ... ADD CONSTRAINT ... NOT ENFORCED is not " +
                "supported: this lake persists only constraints it " +
                "ENFORCES on every write (an unenforced CHECK would " +
                "claim an invariant nothing maintains)")
            // a non-null validatedTableVersion means the engine's
            // AddCheckConstraintExec already scanned existing data for
            // violations — don't pay that scan twice
            PartitionedLake.addCheckConstraint(spark, path, c.name(),
              c.predicateSql(),
              skipDataScan = ac.validatedTableVersion() != null)
          case other => sys.error(
            s"constraint type not supported by LakeCatalog: ${other
              .toDDL} — only ENFORCED CHECK constraints are supported " +
              "(UNIQUE/PRIMARY KEY/FOREIGN KEY enforcement needs a " +
              "global shuffle per write, which is not a 100 TB shape; " +
              "run the duplicate/orphan audit queries instead)")
        }
      case dc: TableChange.DropConstraint =>
        // RESTRICT (the default) and CASCADE agree here: graft
        // constraints have no dependent objects to cascade to
        PartitionedLake.dropCheckConstraint(spark, path, dc.name(),
          ifExists = dc.ifExists())
      case other => sys.error(
        s"ALTER TABLE change not supported by LakeCatalog: $other — " +
          "supported: RENAME COLUMN (stable-id rebind), ADD COLUMNS " +
          "(nullable, appended, optional DEFAULT), DROP COLUMN " +
          "(manifest-only, id tombstoned), ALTER COLUMN TYPE (widening " +
          "promotions only), ALTER COLUMN SET/DROP DEFAULT (current " +
          "default only); everything else would corrupt old snapshots " +
          "and refuses by design")
    }
    new GraftLakeTable(path, None)
  }

  /** `DROP TABLE lake.`/path`` — standard lake-catalog semantics (what
    * Delta/Iceberg path catalogs do): the lake directory, data and
    * manifests, is removed. Metadata-table suffixes refuse (they are
    * views, not tables); a missing lake returns false per the
    * [[TableCatalog]] contract.
    */
  override def dropTable(ident: Identifier): Boolean = {
    val path = ddlPathOf(ident, "DROP")
    val spark = SparkSession.active
    if (!exists(path)) false
    // only a MANIFEST-BEARING lake may be dropped: the read-side
    // pre-protocol fallback (any non-empty directory resolves as a
    // table) must not extend to recursive deletion — a typo'd path to
    // arbitrary files would be irreversibly destroyed by a catalog
    // that could never have COMMITTED to it
    else if (PartitionedLake.latestVersion(spark, path).isEmpty)
      sys.error(s"refusing to DROP $path: it resolves as a table only " +
        "through the pre-protocol read fallback (no graft manifest) — " +
        "this catalog never wrote it, so it will not delete it; remove " +
        "the directory manually if that is really intended")
    else {
      val root = new Path(path)
      val ok = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(root, true)
      // a failed delete must be LOUD: returning false reads as "table
      // did not exist" while the data still does
      if (!ok) sys.error(s"DROP TABLE failed to delete $path")
      true
    }
  }

  override def renameTable(oldIdent: Identifier,
      newIdent: Identifier): Unit = readOnly("RENAME TABLE")
}
