package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{SQLContext, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.{ByteType, DateType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType, StructType}

/** The Spark-native FACE of [[ManifestTable]]: a custom [[FileIndex]]
  * (the Delta-Lake `TahoeFileIndex` integration shape) that lists a
  * committed snapshot's data files from the MANIFEST — never a
  * directory listing — and prunes them with the manifest's per-file
  * min/max stats, driven by Catalyst's OWN pushed-down data filters.
  *
  * Registered as `spark.read.format("graft-manifest")`, so the bespoke
  * [[ManifestTable.readWhere]]/[[ManifestTable.readWhereBox]] API stops
  * being the only way to get data skipping: a plain
  *
  * {{{ spark.read.format("graft-manifest").load(root).where($"day" between (5, 9)) }}}
  *
  * plans through FileSourceStrategy, which hands the WHERE's data
  * filters to [[ManifestFileIndex.listFiles]] before any file is
  * opened. Files whose recorded `[lo, hi]` for a bounded stats column
  * cannot intersect the predicate are skipped from METADATA alone;
  * everything else (column pruning, parquet row-group pushdown,
  * vectorized decode, whole-stage codegen) is the stock parquet path —
  * the connector adds skipping WITHOUT forking the reader. Pruning is
  * conservative (stats-free files are always read) and Spark re-applies
  * every filter row-level, so answers are exact regardless of how much
  * was pruned — the same contract as `readWhere`, now composable with
  * arbitrary plans, SQL views, and joins.
  *
  * Time travel rides the same options surface as Delta:
  * `.option("versionAsOf", 3)` or `.option("timestampAsOf", epochMs)`.
  *
  * At 100 TB the wins compound: the manifest (not an object-store LIST)
  * bounds metadata work; a `commitClustered`/`commitZOrdered` layout
  * gives files DISJOINT stats ranges so a narrow predicate opens ~1
  * file; and because the filter that drives skipping is the plan's own,
  * every downstream consumer — SQL dashboards, joins whose other side
  * pushed a dynamic filter — gets skipping for free.
  */
class ManifestFileIndex(spark: SparkSession, root: String, val version: Int)
    extends FileIndex {

  private val entries = ManifestTable.listedEntries(root, version)
  private val statsCols: Seq[String] = ManifestTable.statsColumns(root, version)
  private val bloomCol: Option[String] = ManifestBloom.bloomColumn(root)

  // One metadata stat per listed file, taken at snapshot resolution —
  // manifest-bounded work (no recursive directory walk), and the
  // resulting index is an immutable snapshot: commits after this point
  // are invisible, which is exactly snapshot isolation.
  private val statuses: Seq[(ManifestTable.FileEntry, FileStatus)] = {
    val fs = new Path(root).getFileSystem(spark.sessionState.newHadoopConf())
    entries.map(e => (e, fs.getFileStatus(new Path(s"$root/${e.rel}"))))
  }

  /** Exposed for schema inference in [[ManifestSourceProvider]]. */
  private[sources] def allStatuses: Seq[FileStatus] = statuses.map(_._2)

  /** Test hook: files surviving stats pruning in the LAST listFiles
    * call (the plan's metric "numFiles" shows the same figure). */
  @volatile private[graft] var lastListedCount: Int = -1

  override def rootPaths: Seq[Path] = Seq(new Path(root))

  // Partition values are carried IN the data files (writePartitionedData
  // partitions by a COPY column), so the relation exposes no virtual
  // partition columns; all pruning happens on data-filter stats.
  override def partitionSchema: StructType = StructType(Nil)

  override def inputFiles: Array[String] = entries.map(e => s"$root/${e.rel}").toArray

  override def sizeInBytes: Long = statuses.map(_._2.getLen).sum

  override def refresh(): Unit = () // immutable snapshot by design

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val bounds = ManifestFileIndex.extractBounds(dataFilters, statsCols)
    val kept =
      if (bounds.isEmpty) statuses
      else statuses.filter { case (e, _) =>
        bounds.forall { case (i, lo, hi) =>
          if (i >= e.stats.size) true // stats-prefix file: cannot prune safely
          else {
            val (l, h) = e.stats(i)
            // keep iff [l,h] intersects [lo,hi]; either bound may be open.
            // Unparseable lo/hi (pre-guard manifests that recorded
            // NaN/Infinity stats) keep the file instead of failing the
            // whole listFiles call (ADVICE r10)
            scala.util.Try(
              lo.forall(b => BigDecimal(h) >= b) && hi.forall(b => BigDecimal(l) <= b)
            ).getOrElse(true)
          }
        }
      }
    // bloom sidecar probe for POINT predicates on the declared column —
    // the skip modality range stats can't provide on an unclustered
    // layout. Each conjunct is an alternative set (EqualTo = one value,
    // In = any-of); a file survives a conjunct if ANY alternative might
    // be present, and files without a sidecar are always kept.
    val pointProbes: Seq[Seq[Literal]] =
      ManifestFileIndex.extractPointProbes(dataFilters, bloomCol)
    val kept2 =
      if (pointProbes.isEmpty) kept
      else kept.filter { case (e, _) =>
        pointProbes.forall(_.exists(l =>
          ManifestBloom.mightContain(root, e.rel, bloomCol.get, l).getOrElse(true)))
      }
    lastListedCount = kept2.size
    Seq(PartitionDirectory(InternalRow.empty, kept2.map(_._2).toArray))
  }
}

object ManifestFileIndex {
  /** Point-lookup probes on the bloom column: one inner Seq per
    * recognized conjunct — EqualTo contributes a single-literal
    * alternative set, In contributes its whole literal list (any-of).
    * Other shapes contribute nothing (conservative). */
  private[graft] def extractPointProbes(filters: Seq[Expression],
      bloomCol: Option[String]): Seq[Seq[Literal]] = bloomCol match {
    case None => Nil
    case Some(bc) => filters.collect {
      case EqualTo(a: Attribute, l: Literal) if a.name == bc => Seq(l)
      case EqualTo(l: Literal, a: Attribute) if a.name == bc => Seq(l)
      case In(a: Attribute, vs) if a.name == bc &&
          vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        vs.map(_.asInstanceOf[Literal])
    }
  }

  /** Per bounded stats column: (index in the manifest's declared stats
    * order, optional lower bound, optional upper bound), folded over
    * every recognized conjunct. Unrecognized expression shapes are
    * IGNORED (no bound extracted) — pruning stays conservative. */
  private[graft] def extractBounds(filters: Seq[Expression],
      statsCols: Seq[String]): Seq[(Int, Option[BigDecimal], Option[BigDecimal])] = {
    def num(l: Literal): Option[BigDecimal] = l.dataType match {
      case ByteType | ShortType | IntegerType | LongType =>
        Option(l.value).map(v => BigDecimal(v.toString))
      case FloatType | DoubleType => Option(l.value).map(v => BigDecimal(v.toString))
      case _: DecimalType => Option(l.value).map(v => BigDecimal(v.toString))
      case DateType => Option(l.value).map(v => BigDecimal(v.toString)) // days since epoch
      case _ => None
    }
    // (colName -> (los, his)) accumulated across conjuncts. Catalyst has
    // already split top-level AND into separate filter entries.
    val acc = scala.collection.mutable.Map.empty[String, (List[BigDecimal], List[BigDecimal])]
    def add(name: String, lo: Option[BigDecimal], hi: Option[BigDecimal]): Unit =
      if (statsCols.contains(name)) {
        val (ls, hs) = acc.getOrElse(name, (Nil, Nil))
        acc(name) = (lo.fold(ls)(_ :: ls), hi.fold(hs)(_ :: hs))
      }
    filters.foreach {
      // strict bounds are treated as inclusive for file-level pruning —
      // conservative (a file whose hi == the excluded bound is still
      // read; the row-level filter drops the boundary rows)
      case GreaterThanOrEqual(a: Attribute, l: Literal) => add(a.name, num(l), None)
      case GreaterThan(a: Attribute, l: Literal)        => add(a.name, num(l), None)
      case LessThanOrEqual(a: Attribute, l: Literal)    => add(a.name, None, num(l))
      case LessThan(a: Attribute, l: Literal)           => add(a.name, None, num(l))
      case EqualTo(a: Attribute, l: Literal)            => add(a.name, num(l), num(l))
      case GreaterThanOrEqual(l: Literal, a: Attribute) => add(a.name, None, num(l))
      case GreaterThan(l: Literal, a: Attribute)        => add(a.name, None, num(l))
      case LessThanOrEqual(l: Literal, a: Attribute)    => add(a.name, num(l), None)
      case LessThan(l: Literal, a: Attribute)           => add(a.name, num(l), None)
      case EqualTo(l: Literal, a: Attribute)            => add(a.name, num(l), num(l))
      case In(a: Attribute, vs) if vs.nonEmpty && vs.forall(_.isInstanceOf[Literal]) =>
        // an IN-list bounds the column to [min(vs), max(vs)] — coarser
        // than per-value checks but free, and the bloom probe (when
        // declared) refines it per value
        val nums = vs.map(v => num(v.asInstanceOf[Literal]))
        if (nums.forall(_.nonEmpty))
          add(a.name, Some(nums.flatten.min), Some(nums.flatten.max))
      case _ => () // IsNotNull, OR-trees, UDF-ish — no metadata bound
    }
    acc.toSeq.map { case (name, (los, his)) =>
      (statsCols.indexOf(name),
        if (los.isEmpty) None else Some(los.max),
        if (his.isEmpty) None else Some(his.min))
    }
  }
}

/** `format("graft-manifest")` registration: resolves the snapshot
  * (current, `versionAsOf`, or `timestampAsOf` epoch-millis), builds
  * the [[ManifestFileIndex]], takes the snapshot's union schema from
  * its manifest ([[ManifestTable.schemaOf]] — a snapshot may mix file
  * generations after add-column evolution), and returns a stock parquet
  * [[HadoopFsRelation]] over the manifest-backed index. */
class ManifestSourceProvider extends RelationProvider
    with CreatableRelationProvider with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft-manifest"

  /** STREAMING SINK face — `writeStream.format("graft-manifest")`:
    * each micro-batch is one transactional commit ([[ManifestStreamSink]]
    * — merge by `key`, `sinkMode=append`, or Complete-mode snapshot),
    * with replayed batches skipped via a checkpoint-derived transaction
    * marker. */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    require(partitionColumns.isEmpty,
      "graft-manifest sink: partitionBy is not supported - snapshot commits " +
        "are unpartitioned; use ManifestTable.mergePartitioned for a " +
        "partition-scoped upsert table")
    ManifestStreamSink.fromOptions(parameters, outputMode, rootOf(parameters))
  }

  /** The catalog hands CREATE TABLE paths URI-qualified ("file:/tmp/x");
    * the manifest layer is java.nio-based, so normalize to a plain
    * local path and refuse non-local schemes loudly (the manifest
    * protocol itself is object-store-ready, this LOCAL provider isn't). */
  private def rootOf(parameters: Map[String, String]): String = {
    val raw = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-manifest: a table root path is required (.load(root)/.save(root))"))
    val uri = new Path(raw).toUri
    if (uri.getScheme == null || uri.getScheme == "file") uri.getPath
    else throw new IllegalArgumentException(
      s"graft-manifest: only local filesystem roots are supported, got $raw")
  }

  /** WRITE face — `df.write.format("graft-manifest").mode(…).save(root)`:
    * Overwrite commits a new full snapshot, Append is the blind-append
    * fast path ([[ManifestTable.append]] — new manifest references the
    * old files plus the batch's, O(batch) I/O), ErrorIfExists/Ignore
    * follow their SaveMode contracts against the committed version.
    * `.option("statsCols", "a,b")` declares data-skipping columns
    * (sticky thereafter). Every mode lands through the same atomic
    * pointer-swap commit, so readers — including a live
    * `graft-manifest-cdc` stream, which sees the commit as its next
    * micro-batch — never observe a partial write. */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: org.apache.spark.sql.DataFrame)
      : BaseRelation = {
    val root = rootOf(parameters)
    val statsCols = parameters.get("statsCols")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq).getOrElse(Nil)
    // `.option("bloomCol", "id")` declares (sticky) per-file bloom
    // sidecars for point-lookup skipping on that column
    parameters.get("bloomCol").foreach(c => ManifestBloom.declare(root, c))
    val exists = ManifestTable.currentVersion(root) >= 1
    mode match {
      case SaveMode.Overwrite => ManifestTable.commitSnapshot(data, root, statsCols)
      case SaveMode.Append => ManifestTable.append(data, root, statsCols)
      case SaveMode.ErrorIfExists if exists =>
        throw new IllegalStateException(
          s"graft-manifest: table at $root already exists (mode ErrorIfExists)")
      case SaveMode.ErrorIfExists => ManifestTable.commitSnapshot(data, root, statsCols)
      case SaveMode.Ignore =>
        if (!exists) ManifestTable.commitSnapshot(data, root, statsCols)
    }
    createRelation(sqlContext, parameters)
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = rootOf(parameters)
    val cur = ManifestTable.currentVersion(root)
    require(cur >= 1, s"graft-manifest: no committed version at $root")
    val v = (parameters.get("versionAsOf"), parameters.get("timestampAsOf")) match {
      case (Some(_), Some(_)) => throw new IllegalArgumentException(
        "graft-manifest: versionAsOf and timestampAsOf are mutually exclusive")
      case (Some(s), _) => s.toInt
      case (_, Some(ts)) =>
        val tsMs = ts.toLong
        val eligible = ManifestTable.history(root).filter(_.timestamp <= tsMs)
        require(eligible.nonEmpty, s"graft-manifest: no snapshot at or before $tsMs at $root")
        eligible.maxBy(_.version).version
      case _ => cur
    }
    require(v >= 1 && v <= cur,
      s"graft-manifest: version $v out of range [1, $cur] at $root")
    val index = new ManifestFileIndex(spark, root, v)
    val dataSchema = ManifestTable.schemaOf(spark, root, v)
    // A declared bucket layout (ManifestTable.declareBuckets) becomes a
    // REAL BucketSpec when — and only when — every listed file carries
    // Spark's bucket-id name suffix: the scan then reports
    // HashPartitioning(col, n) and joins/aggs keyed on the column skip
    // this side's exchange. Any generation written outside the
    // partitioned-merge path (full snapshot commit, pre-declaration
    // files) drops the spec for the whole snapshot — plans shuffle
    // again, answers stay exact (conservative, never wrong).
    val bucketSpec = ManifestTable.bucketLayout(root).flatMap { case (c, n) =>
      val named = index.allStatuses.forall(st =>
        org.apache.spark.sql.graft.SqlShims.bucketIdOf(st.getPath.getName)
          .exists(id => id >= 0 && id < n))
      if (named && dataSchema.fieldNames.contains(c))
        Some(org.apache.spark.sql.catalyst.catalog.BucketSpec(n, Seq(c), Nil))
      else None
    }
    HadoopFsRelation(
      location = index,
      partitionSchema = StructType(Nil),
      dataSchema = dataSchema,
      bucketSpec = bucketSpec,
      fileFormat = new ParquetFileFormat(),
      options = Map("mergeSchema" -> "true"))(spark)
  }
}
