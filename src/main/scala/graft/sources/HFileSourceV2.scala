package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.{streaming => rstreaming}
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 batch-read format for [[graft.operators.BulkLoad.writeHFiles]]
  * output: `spark.read.format("graft-hfile").load(dir)`. It is read-only:
  * `writeHFiles` is the one HFile writer, and Spark refuses
  * `df.write.format("graft-hfile")` before any job runs.
  *
  * The one row reader of a bulk-load directory (`BulkLoad.readHFiles`
  * is a load of it), built the way a 100 TB scan wants to be planned:
  *
  *  - '''one InputPartition per HFile''' — a bulk-load directory holds one
  *    sorted, non-overlapping run per file, so file = natural split; each
  *    executor task streams one file block-at-a-time in O(block) memory
  *    with every [[HFileReader]] structural check active;
  *  - '''column pruning''' ([[SupportsPushDownRequiredColumns]]) — a
  *    `select(qualifier)` never materializes values;
  *  - '''filter pushdown''' ([[SupportsPushDownFilters]]) — `bucket`
  *    equality/membership and `rowkey` comparisons ([[PushedFilters]])
  *    skip whole files at plan time using the `bucket=N` directory name
  *    and [[HFileReader.rowkeyRange]] (the trailer + first-index-key +
  *    LASTKEY triple: three short reads per file, the HFile analogue of a
  *    parquet footer's min/max), and the readers then evaluate them
  *    exactly on every cell, so Spark keeps no `Filter` above the scan;
  *  - '''driver-local bounded reads''' — a scan whose pushed rowkey
  *    envelope is bounded on both sides and covers at most
  *    [[HFileScan.LocalBlockLimit]] data blocks is an [[HFileLocalScan]]:
  *    the driver reads those blocks, at physical planning, and the
  *    query runs no Spark job.
  *
  * The data columns are [[HFileSource.Schema]]; `file`, `tags` and
  * `mvcc` are metadata columns, there only when selected.
  * `BulkLoad.readHFiles` selects all three, in
  * [[graft.operators.HFileCellRow]]'s column order. The load path may
  * hold a Hadoop glob above the `bucket=N` dirs (`sink/epoch={3,4}`):
  * the listing expands it, and a glob matching nothing refuses like a
  * missing path.
  */
class HFileSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-hfile"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    HFileSource.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new HFileTable(HFileSource.pathOf(
      new CaseInsensitiveStringMap(properties)))

  override def supportsExternalMetadata(): Boolean = false
}

object HFileSource {
  /** Data columns — the table schema. */
  val Schema: StructType = StructType(Seq(
    StructField("bucket", IntegerType, nullable = false),
    StructField("rowkey", BinaryType, nullable = false),
    StructField("family", StringType, nullable = false),
    StructField("qualifier", StringType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("value", BinaryType, nullable = false),
    StructField("key_type", IntegerType, nullable = false)))

  /** METADATA columns (select them explicitly, like parquet's
    * `_metadata`): provenance and cell extras, not part of the schema.
    * `tags`/`mvcc` are empty/0 in files written without the tags layout.
    */
  val MetadataColumns: Array[MetadataColumn] = Array(
    MetaColumn("file", StringType, "HFile path this cell was read from"),
    MetaColumn("tags", BinaryType, "the cell's tags (TTL tags among them)"),
    MetaColumn("mvcc", LongType, "the cell's sequence id"))

  private case class MetaColumn(name: String, dataType: DataType,
                                override val comment: String) extends MetadataColumn {
    override def isNullable: Boolean = false
  }

  private[sources] def pathOf(options: CaseInsensitiveStringMap): String = {
    val p = options.get("path")
    require(p != null && p.nonEmpty,
      "graft-hfile requires a load path: spark.read.format(\"graft-hfile\").load(dir)")
    p
  }

  /** `bucket=N` partition value parsed from the file's immediate parent
    * directory name, -1 if absent. Only the parent segment is consulted so
    * an ancestor directory that happens to contain `bucket=` (e.g.
    * `/data/bucket=old/out/...`) can't mislabel every file.
    */
  def bucketOf(file: String): Int = {
    val parent = new Path(file).getParent
    if (parent == null) -1
    else BucketDir.findFirstMatchIn(parent.getName)
      .map(_.group(1).toInt).getOrElse(-1)
  }
  private val BucketDir = "^bucket=(-?\\d+)$".r
}

/** The filters the `graft-hfile` source accepts, and what it derives from
  * them: the per-bucket test ([[forBucket]]) the readers apply to every
  * cell, file pruning by key range ([[mayMatch]]), and the rowkey
  * envelope a reader seeks to ([[envelope]]).
  *
  * Accepted: `>`, `>=`, `<`, `<=` and `=` on `rowkey` (Spark's unsigned
  * binary order), `bucket` `=` and `IN`, and And/Or trees of these — the
  * multi-range disjunction a Z-order box scan pushes as ONE filter, so an
  * interval set needs one scan node and one directory listing.
  */
private[sources] object PushedFilters {
  private def cmp(a: Array[Byte], b: Array[Byte]): Int =
    java.util.Arrays.compareUnsigned(a, b)

  def accepts(f: Filter): Boolean = f match {
    case And(l, r)                                    => accepts(l) && accepts(r)
    case Or(l, r)                                     => accepts(l) && accepts(r)
    case EqualTo("bucket", _: Int)                    => true
    case In("bucket", vs)                             => vs.forall(_.isInstanceOf[Int])
    case GreaterThan("rowkey", _: Array[Byte])        => true
    case GreaterThanOrEqual("rowkey", _: Array[Byte]) => true
    case LessThan("rowkey", _: Array[Byte])           => true
    case LessThanOrEqual("rowkey", _: Array[Byte])    => true
    case EqualTo("rowkey", _: Array[Byte])            => true
    case _                                            => false
  }

  /** A tree's verdict on the cells of one file: `Left` when the file's
    * bucket alone decides it (for all cells, or for none), else `Right`
    * with the rowkey test left after the bucket leaves are folded away.
    */
  type Verdict = Either[Boolean, Array[Byte] => Boolean]

  private def and(l: Verdict, r: Verdict): Verdict = (l, r) match {
    case (Left(false), _) | (_, Left(false)) => Left(false)
    case (Left(true), x)                     => x
    case (x, Left(true))                     => x
    case (Right(p), Right(q))                => Right(k => p(k) && q(k))
  }

  private def or(l: Verdict, r: Verdict): Verdict = (l, r) match {
    case (Left(true), _) | (_, Left(true)) => Left(true)
    case (Left(false), x)                  => x
    case (x, Left(false))                  => x
    case (Right(p), Right(q))              => Right(k => p(k) || q(k))
  }

  private def verdict(f: Filter, bucket: Int): Verdict = f match {
    case And(l, r)                 => and(verdict(l, bucket), verdict(r, bucket))
    case Or(l, r)                  => or(verdict(l, bucket), verdict(r, bucket))
    case EqualTo("bucket", v: Int) => Left(v == bucket)
    case In("bucket", vs)          => Left(vs.contains(bucket))
    case GreaterThan("rowkey", v: Array[Byte])        => Right(cmp(_, v) > 0)
    case GreaterThanOrEqual("rowkey", v: Array[Byte]) => Right(cmp(_, v) >= 0)
    case LessThan("rowkey", v: Array[Byte])           => Right(cmp(_, v) < 0)
    case LessThanOrEqual("rowkey", v: Array[Byte])    => Right(cmp(_, v) <= 0)
    case EqualTo("rowkey", v: Array[Byte]) => Right(java.util.Arrays.equals(_, v))
    case other => throw new IllegalArgumentException(
      s"not a pushed graft-hfile filter: $other")
  }

  /** The conjunction `pushed`, compiled once for the cells of a file in
    * `bucket`: a scan with no pushed rowkey filter gets `Left` and tests
    * nothing per cell.
    */
  def forBucket(pushed: Seq[Filter], bucket: Int): Verdict =
    pushed.foldLeft(Left(true): Verdict)((v, f) => and(v, verdict(f, bucket)))

  /** Whether some cell of a file in `bucket` with rowkeys in `range` may
    * satisfy `f` (conservative: any doubt keeps the file; None = a
    * cell-less file). And/Or trees recurse — an Or of ranges keeps the
    * file iff ANY disjunct can match.
    */
  def mayMatch(bucket: Int, range: Option[(Array[Byte], Array[Byte])],
               f: Filter): Boolean = f match {
    case And(l, r) => mayMatch(bucket, range, l) && mayMatch(bucket, range, r)
    case Or(l, r)  => mayMatch(bucket, range, l) || mayMatch(bucket, range, r)
    case _ if !f.references.contains("rowkey") => forBucket(Seq(f), bucket) != Left(false)
    case _ => range match {
      case None => false
      case Some((first, last)) => f match {
        case GreaterThan("rowkey", v: Array[Byte])        => cmp(last, v) > 0
        case GreaterThanOrEqual("rowkey", v: Array[Byte]) => cmp(last, v) >= 0
        case LessThan("rowkey", v: Array[Byte])           => cmp(first, v) < 0
        case LessThanOrEqual("rowkey", v: Array[Byte])    => cmp(first, v) <= 0
        case EqualTo("rowkey", v: Array[Byte]) =>
          cmp(first, v) <= 0 && cmp(last, v) >= 0
        case _ => true
      }
    }
  }

  private def maxKey(a: Array[Byte], b: Array[Byte]) = if (cmp(a, b) >= 0) a else b
  private def minKey(a: Array[Byte], b: Array[Byte]) = if (cmp(a, b) <= 0) a else b

  /** Inclusive `[lower, upper]` rowkey envelope of the conjunction
    * `pushed` (None = unbounded on that side; exclusive edges are
    * included): And intersects envelopes, Or unions them — so a pushed
    * multi-range disjunction still gives a tight outer seek window.
    */
  def envelope(pushed: Seq[Filter]): (Option[Array[Byte]], Option[Array[Byte]]) = {
    def env(f: Filter): (Option[Array[Byte]], Option[Array[Byte]]) = f match {
      case And(l, r) =>
        val (ll, lu) = env(l); val (rl, ru) = env(r)
        ((ll ++ rl).reduceOption(maxKey), (lu ++ ru).reduceOption(minKey))
      case Or(l, r) =>
        val (ll, lu) = env(l); val (rl, ru) = env(r)
        (for (a <- ll; b <- rl) yield minKey(a, b),
          for (a <- lu; b <- ru) yield maxKey(a, b))
      case GreaterThan("rowkey", v: Array[Byte])        => (Some(v), None)
      case GreaterThanOrEqual("rowkey", v: Array[Byte]) => (Some(v), None)
      case LessThan("rowkey", v: Array[Byte])           => (None, Some(v))
      case LessThanOrEqual("rowkey", v: Array[Byte])    => (None, Some(v))
      case EqualTo("rowkey", v: Array[Byte])            => (Some(v), Some(v))
      case _                                            => (None, None)
    }
    pushed.map(env).foldLeft(
      (Option.empty[Array[Byte]], Option.empty[Array[Byte]])) {
      case ((lo, hi), (l, u)) =>
        ((lo ++ l).reduceOption(maxKey), (hi ++ u).reduceOption(minKey))
    }
  }
}

class HFileTable(path: String) extends Table with SupportsRead
    with SupportsMetadataColumns {
  override def name(): String = s"graft-hfile:$path"
  override def schema(): StructType = HFileSource.Schema
  override def metadataColumns(): Array[MetadataColumn] =
    HFileSource.MetadataColumns
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new HFileScanBuilder(path)
}

class HFileScanBuilder(path: String) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates {

  private var required: StructType = HFileSource.Schema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  /** Consumes every filter [[PushedFilters]] accepts: the source prunes
    * files by them and its readers evaluate them exactly on each cell.
    * Only the others come back as residual for Spark to evaluate.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(PushedFilters.accepts)
    filters.filterNot(PushedFilters.accepts)
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** COUNT(*) / MIN(rowkey) / MAX(rowkey), globally or grouped by
    * `bucket`, answer from file trailers and key ranges — no data block
    * is read at any scale. Only when every pushed filter is on `bucket`
    * alone (the directory name decides it exactly); a pushed rowkey
    * filter keeps the row scan.
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    HFileStatsScan.plan(agg).isDefined &&
      pushed.forall(!_.references.contains("rowkey"))

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (supportCompletePushDown(agg)) { pushedAgg = HFileStatsScan.plan(agg) }
    pushedAgg.isDefined
  }
  private var pushedAgg: Option[(Boolean, Seq[String])] = None

  override def build(): Scan = {
    val spark = SparkSession.active
    pushedAgg match {
      case Some((byBucket, funcs)) =>
        new HFileStatsScan(path, pushed, byBucket, funcs, HFileDir.confMap(spark))
      case None =>
        HFileScan(path, required, pushed, HFileDir.confMap(spark),
          spark.sparkContext.hadoopConfiguration)
    }
  }
}

object HFileStatsScan {
  import org.apache.spark.sql.connector.expressions.NamedReference
  import org.apache.spark.sql.connector.expressions.aggregate._

  private def colNamed(e: org.apache.spark.sql.connector.expressions.Expression,
                       name: String): Boolean = e match {
    case nr: NamedReference => nr.fieldNames.sameElements(Array(name))
    case _                  => false
  }

  /** `Some((groupedByBucket, funcs))` when the aggregation is answerable
    * from trailers/key ranges: group-by nothing or `bucket`, aggregates
    * drawn from COUNT(*), MIN(rowkey), MAX(rowkey).
    */
  private[sources] def plan(agg: Aggregation): Option[(Boolean, Seq[String])] = {
    val byBucket = agg.groupByExpressions match {
      case Array()                              => Some(false)
      case Array(e) if colNamed(e, "bucket")    => Some(true)
      case _                                    => None
    }
    val funcs = agg.aggregateExpressions.foldLeft(
        Option(Vector.empty[String])) {
      case (Some(acc), _: CountStar)                        => Some(acc :+ "count")
      case (Some(acc), m: Min) if colNamed(m.column, "rowkey") => Some(acc :+ "min")
      case (Some(acc), m: Max) if colNamed(m.column, "rowkey") => Some(acc :+ "max")
      case _                                                => None
    }
    for (b <- byBucket; f <- funcs if f.nonEmpty) yield (b, f)
  }
}

/** Driver-local stats answer: COUNT(*) from the trailers' `entry_count`,
  * MIN/MAX(rowkey) from each file's first/last key (short reads through
  * a bounded pool, optionally grouped by bucket). A 100 TB directory
  * answers without touching a data block.
  */
class HFileStatsScan(path: String, pushed: Array[Filter], byBucket: Boolean,
                     funcs: Seq[String], confMap: Map[String, String])
    extends LocalScan {

  override def readSchema(): StructType = {
    val aggFields = funcs.map {
      case "count" => StructField("count_star", LongType, nullable = false)
      case "min"   => StructField("min_rowkey", BinaryType, nullable = true)
      case "max"   => StructField("max_rowkey", BinaryType, nullable = true)
    }
    StructType(
      (if (byBucket) Seq(StructField("bucket", IntegerType, nullable = false))
       else Nil) ++ aggFields)
  }

  override def description(): String =
    s"graft-hfile stats-from-trailers $path " +
      s"[${funcs.mkString(",")}${if (byBucket) " by bucket" else ""}]"

  override def rows(): Array[InternalRow] = {
    val dir = HFileDir.list(path, HFileDir.confOf(confMap))
    // same path semantics as the row scan: empty-but-existing dir is an
    // empty aggregate input, a missing path is an error
    if (dir.files.isEmpty)
      require(dir.fs.exists(dir.root), s"no HFiles found under $path")
    // (bucket, entryCount, range) per surviving file — free when the
    // `_manifest` sidecar matches the listing, 1-3 pooled short reads per
    // file when not
    val stats = dir.stats(needRange = funcs.exists(f => f == "min" || f == "max"),
      keep = b => PushedFilters.forBucket(pushed, b) != Left(false))
    val unsigned = Ordering.fromLessThan[Array[Byte]](
      java.util.Arrays.compareUnsigned(_, _) < 0)
    def rowOf(bucket: Option[Int], group: Seq[HFileDir.FileStat]): InternalRow = {
      val ranges = group.flatMap(_.range)
      val aggVals: Seq[Any] = funcs.map {
        case "count" => group.map(_.entryCount).sum
        case "min" => if (ranges.isEmpty) null else ranges.map(_._1).min(unsigned)
        case "max" => if (ranges.isEmpty) null else ranges.map(_._2).max(unsigned)
      }
      new GenericInternalRow((bucket.toSeq ++ aggVals).toArray[Any])
    }
    if (byBucket)
      stats.groupBy(_.bucket).toSeq.sortBy(_._1)
        .map { case (b, g) => rowOf(Some(b), g) }.toArray
    else Array(rowOf(None, stats))
  }
}

case class HFileInputPartition(file: String, bucket: Int) extends InputPartition

/** The row scan: one [[HFileInputPartition]] per surviving file, read by
  * executor tasks. `planned` carries the files already pruned in
  * [[HFileScan.apply]], so planning lists and probes the directory once.
  */
class HFileScan(path: String, required: StructType, pushed: Array[Filter],
                confMap: Map[String, String],
                planned: Option[Seq[HFileInputPartition]] = None)
    extends Scan with Batch {

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  /** Spark builds a streaming scan with no pushdown: a tail reads every
    * column and filters above the scan. Should a later Spark push into
    * it, fail rather than drop what the builder took.
    */
  override def toMicroBatchStream(
      checkpointLocation: String): rstreaming.MicroBatchStream = {
    require(pushed.isEmpty && required == HFileSource.Schema,
      s"a graft-hfile tail takes no pushdown: [${pushed.mkString(", ")}] $required")
    new HFileMicroBatchStream(path, confMap)
  }
  override def description(): String =
    s"graft-hfile $path, pruned by [${pushed.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] =
    planned.getOrElse(HFileScan.survivors(path, pushed, HFileDir.confOf(confMap)))
      .toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new HFileReaderFactory(required, confMap, pushed)
}

object HFileScan {
  /** Most data blocks a scan may cover and still be read on the driver:
    * 16 blocks, about 1 MiB at the default 64 KiB block size, which is
    * also what [[HFileLocalScan.rows]] holds in driver memory. Measured
    * on local[4] (4-core VM, 64 KiB blocks, p50 driver vs job): a range
    * collected to the driver is faster on the driver at every size
    * (1 block 53 vs 100 ms, 16 blocks 51 vs 95, 64 blocks 87 vs 150,
    * 245 blocks 212 vs 288), but a range aggregated on top runs a job
    * either way, breaks even up to 2 blocks, and then falls behind
    * (16 blocks 120-148 vs 111-126 ms, 64 blocks 179 vs 133, 245 blocks
    * 369 vs 197). 16 keeps gets and row-prefix scans (1-2 blocks) local
    * and holds an aggregate's loss to about a tenth.
    */
  val LocalBlockLimit = 16

  /** The scan for `pushed`: an [[HFileLocalScan]] when its rowkey
    * envelope is bounded on both sides and the surviving files' covering
    * data blocks are at most [[LocalBlockLimit]]; else the row scan. The
    * count descends each file's index only as far as the budget left
    * ([[HFileReader.dataBlockCount]]) and opens no file once it is spent.
    */
  private[sources] def apply(path: String, required: StructType,
                             pushed: Array[Filter], confMap: Map[String, String],
                             conf: Configuration): HFileScan =
    PushedFilters.envelope(pushed) match {
      case (lower @ Some(_), upper @ Some(_)) =>
        val files = survivors(path, pushed, conf)
        val blocks = files.iterator.scanLeft(0) { (sofar, p) =>
          val r = HFileDir.open(p.file, conf)
          try sofar + HFileReader.dataBlockCount(r, lower, upper,
            LocalBlockLimit - sofar)
          finally r.close()
        }
        if (blocks.forall(_ <= LocalBlockLimit))
          new HFileLocalScan(path, required, pushed, confMap, files, conf)
        else new HFileScan(path, required, pushed, confMap, Some(files))
      case _ => new HFileScan(path, required, pushed, confMap)
    }

  /** The files of `path` that may hold a cell satisfying `pushed`. */
  private[sources] def survivors(path: String, pushed: Array[Filter],
                                 conf: Configuration): Seq[HFileInputPartition] = {
    val dir = HFileDir.list(path, conf)
    if (dir.files.isEmpty) {
      // an existing-but-empty directory is a valid empty scan (count() = 0,
      // like every other Spark source); only a missing path is an error
      require(dir.fs.exists(dir.root), s"no HFiles found under $path")
      return Nil
    }
    // directory-name pruning first: costs nothing, avoids the trailer
    // reads for buckets that can't match
    val bucketOk = (b: Int) => PushedFilters.forBucket(pushed, b) != Left(false)
    val rowkeyFilters = pushed.filter(_.references.contains("rowkey"))
    val kept =
      if (rowkeyFilters.isEmpty)
        dir.paths.map(f => (f, HFileSource.bucketOf(f))).filter(p => bucketOk(p._2))
      else {
        // key ranges come free from the `_manifest` sidecar when it
        // matches the listing; only its absence costs 3 short reads
        // (trailer / first index key / LASTKEY) per file
        val inRange = dir.stats(keep = bucketOk)
          .filter(s => rowkeyFilters.forall(PushedFilters.mayMatch(s.bucket, s.range, _)))
          .map(s => (s.file, s.bucket))
        val eqKeys = rowkeyFilters.collect {
          case EqualTo("rowkey", v: Array[Byte]) => v
        }
        // point-GETs additionally consult the row bloom of the (few)
        // files whose key range covers the key — files that don't
        // contain it are dropped here, not in a task
        if (eqKeys.isEmpty) inRange
        else {
          inRange.zip(HFileDir.pooled(inRange) { case (f, _) =>
            val r = HFileDir.open(f, dir.conf)
            try eqKeys.forall(k =>
              HFileReader.rowkeyMayContain(r, k).getOrElse(true))
            finally r.close()
          }).collect { case (p, true) => p }
        }
      }
    kept.map { case (f, b) => HFileInputPartition(f, b) }
  }
}

/** A bounded scan answered on the driver: [[rows]] reads the covering
  * blocks of `files` through the same reader as a task, so the plan is a
  * bare `LocalTableScan` and the query runs no Spark job. Still an
  * [[HFileScan]], so `toBatch.planInputPartitions()` names its files.
  *
  * Spark calls [[rows]] while it builds the physical plan, so the blocks
  * are read at planning: `explain()` and `queryExecution.executedPlan`
  * read data, a corrupt block fails planning rather than execution, and
  * the rows are fixed in the Dataset's cached plan — running the same
  * Dataset again does not re-read (a new Dataset re-plans and does).
  */
class HFileLocalScan(path: String, required: StructType, pushed: Array[Filter],
                     confMap: Map[String, String], files: Seq[HFileInputPartition],
                     conf: Configuration)
    extends HFileScan(path, required, pushed, confMap, Some(files)) with LocalScan {

  override def rows(): Array[InternalRow] =
    HFileDir.pooled(files) { p =>
      val r = new HFilePartitionReader(p, required, conf, pushed)
      try {
        val out = Array.newBuilder[InternalRow]
        while (r.next()) out += r.get()
        out.result()
      } finally r.close()
    }.flatten.toArray
}

/** Streaming offset for a tailed bulk-load directory: the highest run
  * id delivered so far (-1 = nothing yet). Run ids are strictly
  * increasing by construction — plain sinks use the batch id, capped
  * sinks stride it (`Streams.EpochStride`).
  */
case class HFileEpochOffset(epoch: Long) extends rstreaming.Offset {
  override def json(): String = s"""{"epoch":$epoch}"""
}

object HFileEpochOffset {
  private val Re = """\{"epoch":(-?\d+)\}""".r
  def parse(json: String): HFileEpochOffset = json.trim match {
    case Re(e) => HFileEpochOffset(e.toLong)
    case other => throw new IllegalArgumentException(
      s"not a graft-hfile offset: $other")
  }
}

/** G10 — incremental tail of a streamed bulk-load directory (the G7
  * sink, `Streams.bulkLoadStream`): each micro-batch delivers the cell
  * stream of the runs published since the last offset, so a downstream
  * consumer (incremental rollup, replication, index build) follows the
  * bulk-load sink without rescanning the directory — the HBase-
  * replication-tails-WALs role, re-expressed as a DSv2 streaming scan.
  *
  * A run ([[HFileDir.runs]]) is DELIVERABLE when it is published (its
  * marker is written after every file's commit rename, so a marked run
  * is always fully loadable) and carries no fold provenance (fold
  * outputs rearrange already-delivered cells — skipping them
  * keeps delivery exactly-once; their consumed sources are already past
  * offsets). Exactly-once therefore holds unconditionally on append-only
  * sinks (`maxEpochs = 0`); under a self-compacting sink the consumer
  * must stay less than one fold window behind, else a lagging epoch can
  * be folded (and swept) before it is read — the same freshness contract
  * HBase replication has with WAL cleanup.
  *
  * Plan shape: offsets and run listings are driver-side (O(runs));
  * each micro-batch plans one InputPartition per new HFile, read by the
  * same readers as the batch scan. Spark pushes nothing into a tail
  * ([[HFileScan.toMicroBatchStream]]), so a query's filters run above it.
  */
class HFileMicroBatchStream(path: String, confMap: Map[String, String])
    extends rstreaming.MicroBatchStream {
  import HFileSource._

  /** Highest offset ever observed by THIS stream instance: latestOffset
    * must never regress, but the max DELIVERABLE id transiently drops
    * mid-fold (the sink folds the newest completed runs away before its
    * next run is written) — a regressed offset would make the engine
    * log a backwards batch and then re-deliver surviving runs. The
    * floor is maintained here for a running query and re-seeded from
    * every WAL offset the engine replays ([[deserializeOffset]]) across
    * restarts. Only deliverable DATA-run ids ever advance the offset —
    * never fold ids: batch ids are strictly increasing in both sink
    * modes, so an id the offset passed can never be written later.
    */
  @volatile private var maxSeen = -1L

  override def initialOffset(): rstreaming.Offset = HFileEpochOffset(-1L)
  override def latestOffset(): rstreaming.Offset = {
    maxSeen = HFileDir.runs(path, HFileDir.confOf(confMap))
      .filter(_.deliverable).foldLeft(maxSeen)(_ max _.id)
    HFileEpochOffset(maxSeen)
  }
  override def deserializeOffset(json: String): rstreaming.Offset = {
    // every offset the engine replays from its WAL raises the floor —
    // after a RESTART maxSeen starts at -1, and without this a
    // tail-of-directory deletion (e.g. the sink's empty-run sweep
    // removing the newest published id) could make latestOffset
    // regress below the checkpoint
    val o = HFileEpochOffset.parse(json)
    maxSeen = math.max(maxSeen, o.epoch)
    o
  }
  override def commit(end: rstreaming.Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: rstreaming.Offset,
                                   end: rstreaming.Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[HFileEpochOffset].epoch
    val e = end.asInstanceOf[HFileEpochOffset].epoch
    if (e <= s) return Array.empty
    val conf = HFileDir.confOf(confMap)
    val live = HFileDir.runs(path, conf)
    // LOUD lag detection (a silent skip would record data loss as
    // successful delivery): if any run id inside this batch's range was
    // CONSUMED by a still-live fold — its provenance names exactly the
    // folded sources — the reader fell behind the sink's fold window and
    // the folded cells can no longer be delivered individually. A batch
    // replayed from the offset WAL after a crash hits this instead of
    // quietly planning an empty range. (Best effort by construction: a
    // fold-of-a-fold chain erases the older provenance with its sources;
    // one fold generation is the detectable — and, under EpochStride,
    // the realistic — lag window.)
    val foldConsumedInRange = live.flatMap(HFileDir.consumed(_, conf))
      .filter(id => id > s && id <= e)
    if (foldConsumedInRange.nonEmpty)
      throw new IllegalStateException(
        s"epochs ${foldConsumedInRange.sorted.mkString(",")} in range " +
          s"($s, $e] were folded away before this reader delivered them " +
          "— the tail fell more than one fold window behind the sink " +
          "(see HFileMicroBatchStream's keep-pace contract)")
    live.filter(r => r.deliverable && r.id > s && r.id <= e).flatMap { r =>
      HFileDir.list(r.path.toString, conf).paths
        .map(p => HFileInputPartition(p, bucketOf(p)))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new HFileReaderFactory(Schema, confMap, Array.empty)
}

class HFileReaderFactory(required: StructType, confMap: Map[String, String],
                         pushed: Array[Filter])
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new HFilePartitionReader(partition.asInstanceOf[HFileInputPartition],
      required, HFileDir.confOf(confMap), pushed)
}

/** One file's cells that satisfy `pushed`, projected to `required`. With
  * a bounded rowkey envelope it seeks through the index and streams only
  * the covering blocks; otherwise it scans the whole file with every
  * structural check.
  */
class HFilePartitionReader(p: HFileInputPartition, required: StructType,
                           conf: Configuration, pushed: Array[Filter])
    extends PartitionReader[InternalRow] {
  import HFile.HCell

  private val fileUtf8 = UTF8String.fromString(p.file)
  // one projector per required column, resolved once — the row loop
  // stays a flat array fill
  private val fields: Array[HCell => Any] = required.fieldNames.map {
    case "file"      => (_: HCell) => fileUtf8
    case "bucket"    => (_: HCell) => p.bucket
    case "rowkey"    => (c: HCell) => c.rowkey
    case "family"    => (c: HCell) => UTF8String.fromBytes(c.family)
    case "qualifier" => (c: HCell) => UTF8String.fromBytes(c.qualifier)
    case "ts"        => (c: HCell) => c.ts
    case "value"     => (c: HCell) => c.value
    case "key_type"  => (c: HCell) => c.keyType.toInt
    case "tags"      => (c: HCell) => c.tags
    case "mvcc"      => (c: HCell) => c.mvcc
    case other => throw new IllegalArgumentException(s"unknown column $other")
  }

  private val rr = HFileDir.open(p.file, conf)
  // a corrupt trailer/header throws before the reader is constructed, so
  // close() would never run — release the stream on the failure path
  private val cells =
    // compiled once for this file's bucket: no per-cell test when the
    // bucket alone decides the pushed filters
    try PushedFilters.forBucket(pushed, p.bucket) match {
      case Left(false) => Iterator.empty
      case verdict =>
        val (lower, upper) = PushedFilters.envelope(pushed)
        val read =
          if (lower.isDefined || upper.isDefined) HFileReader.scanRange(rr, lower, upper)
          else HFileReader.scan(rr)
        verdict.fold(_ => read, test => read.filter(c => test(c.rowkey)))
    } catch {
      case t: Throwable =>
        try rr.close() catch { case _: Throwable => () }
        throw t
    }
  private var row: InternalRow = _

  override def next(): Boolean = {
    if (!cells.hasNext) return false
    val c = cells.next()
    val out = new Array[Any](fields.length)
    var i = 0
    while (i < fields.length) { out(i) = fields(i)(c); i += 1 }
    row = new GenericInternalRow(out)
    true
  }

  override def get(): InternalRow = row

  // scan() closes the stream on exhaustion; this covers early
  // termination (limit, task kill) — FSDataInputStream close is idempotent
  override def close(): Unit = rr.close()
}
