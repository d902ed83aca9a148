package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{MetadataColumn, SupportsMetadataColumns, SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.{streaming => rstreaming}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 batch-read format for [[graft.operators.BulkLoad.writeHFiles]]
  * output: `spark.read.format("graft-hfile").load(dir)`.
  *
  * The RDD-free, planner-integrated twin of `BulkLoad.readHFiles`, built
  * the way a 100 TB scan wants to be planned:
  *
  *  - '''one InputPartition per HFile''' — a bulk-load directory holds one
  *    sorted, non-overlapping run per file, so file = natural split; each
  *    executor task streams one file block-at-a-time in O(block) memory
  *    with every [[HFileReader]] structural check active;
  *  - '''column pruning''' ([[SupportsPushDownRequiredColumns]]) — a
  *    `select(qualifier)` never materializes values;
  *  - '''file pruning''' ([[SupportsPushDownFilters]]) — `bucket` equality
  *    and `rowkey` range predicates skip whole files at plan time using
  *    the `bucket=N` directory name and [[HFileReader.rowkeyRange]] (the
  *    trailer + first-index-key + LASTKEY triple: three short reads per
  *    file, the HFile analogue of a parquet footer's min/max). Pruning
  *    filters are reported pushed but conservatively re-evaluated by
  *    Spark — the source skips files, not rows.
  *
  * The two reads are NOT interchangeable: the data columns are
  * [[graft.operators.HFileCellRow]]'s without `tags` and `mvcc` (this
  * source does not read them), and `file` is a metadata column that is
  * only there when selected. `BulkLoad.readHFiles` without those three
  * columns is this source's default scan.
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
  /** Data columns — the table schema, and the write contract. */
  val Schema: StructType = StructType(Seq(
    StructField("bucket", IntegerType, nullable = false),
    StructField("rowkey", BinaryType, nullable = false),
    StructField("family", StringType, nullable = false),
    StructField("qualifier", StringType, nullable = false),
    StructField("ts", LongType, nullable = false),
    StructField("value", BinaryType, nullable = false),
    StructField("key_type", IntegerType, nullable = false)))

  /** `file` is a METADATA column (select it explicitly, like parquet's
    * `_metadata`): readable provenance that writes never demand.
    */
  object FileMetadataColumn extends MetadataColumn {
    override def name(): String = "file"
    override def dataType(): DataType = StringType
    override def isNullable: Boolean = false
    override def comment(): String = "HFile path this cell was read from"
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

  /** Whether a file of bucket `b` can satisfy `f`: exact `bucket`
    * filters decide from the `bucket=N` directory name; anything else
    * may match.
    */
  private[sources] def bucketMayMatch(b: Int, f: Filter): Boolean = f match {
    case EqualTo("bucket", v: Int) => b == v
    case In("bucket", vs) => vs.exists {
      case v: Int => v == b
      case _      => true
    }
    case _ => true
  }
}

class HFileTable(path: String) extends Table with SupportsRead with SupportsWrite
    with SupportsMetadataColumns {
  override def name(): String = s"graft-hfile:$path"
  override def schema(): StructType = HFileSource.Schema
  override def metadataColumns(): Array[MetadataColumn] =
    Array(HFileSource.FileMetadataColumn)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new HFileScanBuilder(path)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new HFileWriteBuilder(path, info)
}

class HFileScanBuilder(path: String) extends ScanBuilder
    with SupportsPushDownRequiredColumns with SupportsPushDownFilters
    with SupportsPushDownAggregates {

  private var required: StructType = HFileSource.Schema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  private def isExactBucketFilter(f: Filter): Boolean = f match {
    case EqualTo("bucket", _: Int) => true
    case In("bucket", vs)          => vs.forall(_.isInstanceOf[Int])
    case _                         => false
  }

  private def isRowkeyLeaf(f: Filter): Boolean = f match {
    case GreaterThan("rowkey", _: Array[Byte])        => true
    case GreaterThanOrEqual("rowkey", _: Array[Byte]) => true
    case LessThan("rowkey", _: Array[Byte])           => true
    case LessThanOrEqual("rowkey", _: Array[Byte])    => true
    case EqualTo("rowkey", _: Array[Byte])            => true
    case _                                            => false
  }

  /** And/Or trees over acceptable leaves prune too — the multi-range
    * shape a Z-order box scan pushes as ONE disjunction
    * (`(k>=a AND k<b) OR (k>=c AND k<d) OR …`), so an interval set
    * needs one scan node and one directory listing, not one branch
    * per interval.
    */
  private def acceptableTree(f: Filter): Boolean = f match {
    case And(l, r) => acceptableTree(l) && acceptableTree(r)
    case Or(l, r)  => acceptableTree(l) && acceptableTree(r)
    case leaf      => isRowkeyLeaf(leaf) || isExactBucketFilter(leaf)
  }

  /** Accepts `bucket` equality/membership, `rowkey` comparisons, and
    * And/Or trees of those, for FILE pruning. Top-level bucket filters
    * are CONSUMED (the `bucket=N` directory name is authoritative, so
    * directory pruning evaluates them exactly); everything else comes
    * back as residual — the source skips whole files whose key range /
    * bloom can't match, it does not filter rows.
    */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(acceptableTree)
    filters.filterNot(isExactBucketFilter)
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** COUNT(*) / MIN(rowkey) / MAX(rowkey), globally or grouped by
    * `bucket`, answer from file trailers and key ranges — no data block
    * is read at any scale. Only reachable when every remaining filter is
    * an exact bucket filter (rowkey filters stay residual, so Spark
    * never offers the aggregate).
    */
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    HFileStatsScan.plan(agg).isDefined && pushed.forall(isExactBucketFilter)

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    if (supportCompletePushDown(agg)) { pushedAgg = HFileStatsScan.plan(agg) }
    pushedAgg.isDefined
  }
  private var pushedAgg: Option[(Boolean, Seq[String])] = None

  override def build(): Scan = pushedAgg match {
    case Some((byBucket, funcs)) =>
      new HFileStatsScan(path, pushed, byBucket, funcs,
        HFileDir.confMap(SparkSession.active))
    case None =>
      new HFileScan(path, required, pushed,
        HFileDir.confMap(SparkSession.active))
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
  import HFileSource._

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
      keep = b => pushed.forall(bucketMayMatch(b, _)))
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

class HFileScan(path: String, required: StructType, pushed: Array[Filter],
                confMap: Map[String, String]) extends Scan with Batch {
  import HFileSource._

  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def toMicroBatchStream(
      checkpointLocation: String): rstreaming.MicroBatchStream =
    new HFileMicroBatchStream(path, required, pushed, confMap)
  override def description(): String =
    s"graft-hfile $path, pruned by [${pushed.mkString(", ")}]"

  private def cmp(a: Array[Byte], b: Array[Byte]): Int =
    java.util.Arrays.compareUnsigned(a, b)

  /** File survives iff every pushed predicate can match somewhere in the
    * file's [first, last] rowkey range (conservative: any doubt keeps
    * the file). And/Or trees recurse — an Or of ranges keeps the file
    * iff ANY disjunct can match, which is exactly the multi-interval
    * pruning a Z-order box scan needs from its single pushed
    * disjunction.
    */
  private def mayMatch(bucket: Int, range: Option[(Array[Byte], Array[Byte])],
                       f: Filter): Boolean = f match {
    case And(l, r) =>
      mayMatch(bucket, range, l) && mayMatch(bucket, range, r)
    case Or(l, r) =>
      mayMatch(bucket, range, l) || mayMatch(bucket, range, r)
    case EqualTo("bucket", _: Int) | In("bucket", _) => bucketMayMatch(bucket, f)
    case _ => range match {
      case None => false // empty file: no rowkey can match
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

  override def planInputPartitions(): Array[InputPartition] = {
    val dir = HFileDir.list(path, HFileDir.confOf(confMap))
    if (dir.files.isEmpty) {
      // an existing-but-empty directory is a valid empty scan (count() = 0,
      // like every other Spark source); only a missing path is an error
      require(dir.fs.exists(dir.root), s"no HFiles found under $path")
      return Array.empty
    }
    // anything touching rowkey (leaf OR tree) must see the file's key
    // range; only rowkey-free filters may evaluate with range = None
    val (bucketFilters, rowkeyFilters) =
      pushed.partition(!_.references.contains("rowkey"))
    // directory-name pruning first: costs nothing, avoids the trailer
    // reads for buckets that can't match
    val bucketOk = (b: Int) => bucketFilters.forall(mayMatch(b, None, _))
    val survivors =
      if (rowkeyFilters.isEmpty)
        dir.paths.map(f => (f, bucketOf(f))).filter(p => bucketOk(p._2))
      else {
        // key ranges come free from the `_manifest` sidecar when it
        // matches the listing; only its absence costs 3 short reads
        // (trailer / first index key / LASTKEY) per file
        val inRange = dir.stats(keep = bucketOk)
          .filter(s => rowkeyFilters.forall(mayMatch(s.bucket, s.range, _)))
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
    survivors.map { case (f, b) => HFileInputPartition(f, b): InputPartition }
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    // inclusive rowkey bounds for task-side block skipping: a task with a
    // point-GET predicate seeks via the file's index instead of streaming
    // the whole file (LT's exclusive edge is conservatively included; the
    // row-level Filter above the scan stays exact)
    def maxKey(a: Array[Byte], b: Array[Byte]) =
      if (java.util.Arrays.compareUnsigned(a, b) >= 0) a else b
    def minKey(a: Array[Byte], b: Array[Byte]) =
      if (java.util.Arrays.compareUnsigned(a, b) <= 0) a else b
    // inclusive [lo, hi] envelope of rowkeys a filter can accept
    // (None = unbounded on that side): And intersects envelopes, Or
    // unions them — so a pushed multi-range disjunction still gives
    // the task a tight outer seek window over all its intervals
    def env(f: Filter): (Option[Array[Byte]], Option[Array[Byte]]) =
      f match {
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
        case EqualTo("rowkey", v: Array[Byte]) => (Some(v), Some(v))
        case _                                 => (None, None)
      }
    // top-level filters are conjunctive
    val (lower, upper) = pushed.map(env).foldLeft(
      (Option.empty[Array[Byte]], Option.empty[Array[Byte]])) {
      case ((lo, hi), (l, u)) =>
        ((lo ++ l).reduceOption(maxKey), (hi ++ u).reduceOption(minKey))
    }
    new HFileReaderFactory(required, confMap, lower, upper)
  }
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
  * each micro-batch plans one InputPartition per new HFile through the
  * same reader/pruning machinery as the batch scan (consumed exact
  * `bucket` filters are honored here; residual rowkey filters re-filter
  * rows upstream as in the batch path).
  */
class HFileMicroBatchStream(path: String, required: StructType,
                            pushed: Array[Filter],
                            confMap: Map[String, String])
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
        // residual filters re-filter rows upstream
        .filter(p => pushed.forall(bucketMayMatch(p.bucket, _)))
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new HFileReaderFactory(required, confMap)
}

// ---- DSv2 write path ------------------------------------------------------

/** `df.write.format("graft-hfile").mode(...).save(dir)` — the write twin of
  * the read path, so the two surfaces are symmetric.
  *
  * Input columns: `bucket int, rowkey binary, family string,
  * qualifier string, ts long, value binary` and optionally
  * `key_type int` (defaults to Put). Options: `blockSize`,
  * `compression` (`none`/`gz`/`snappy`/`lz4`/`zstd`), `encoding`
  * (`none`/`prefix`/`diff`/`fast_diff` data block encoding), `bloom`,
  * `bloomChunkKeys`, `maxFileBytes`.
  *
  * Instead of pre-shuffling like [[graft.operators.BulkLoad.writeHFiles]],
  * the write declares what it needs via
  * [[RequiresDistributionAndOrdering]] — range-distributed by
  * (bucket, rowkey) and fully sorted within partitions (family/qualifier
  * ascending, ts/key_type descending) — and Spark plans the shuffle+sort
  * itself (AQE included). Only (bucket, rowkey) distributes: any finer
  * key in the range partitioning could split one row's cells across a
  * boundary and produce overlapping files at that rowkey. Each task then
  * streams its sorted run through one [[HFileDir.TaskWriter]] — the
  * same rolling, `_inprogress/` naming and task-end commit as
  * `writeHFiles` — naming files `part-<queryId8>-PPPPP-SSS` so appends
  * never collide with existing files.
  */
class HFileWriteBuilder(path: String, info: LogicalWriteInfo)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write =
    new HFileWriteImpl(path, info, doTruncate,
      HFileDir.confMap(SparkSession.active))
}

class HFileWriteImpl(path: String, info: LogicalWriteInfo, truncate: Boolean,
                     confMap: Map[String, String])
    extends Write with RequiresDistributionAndOrdering {

  private val schema = info.schema()
  // validate the contract on the driver, before any task launches
  HFileWriteImpl.fieldIndexes(schema)
  private def opt(name: String): Option[String] = Option(info.options.get(name))
  private val format = HFileDir.Format(
    blockSize = opt("blockSize").map(_.toInt).getOrElse(HFile.DefaultBlockSize),
    codec = HFile.codecOf(opt("compression").getOrElse("none")),
    // bloom=false disables the row bloom; bloomChunkKeys overrides capacity
    bloomChunkKeys =
      if (opt("bloom").exists(_.toLowerCase == "false")) 0
      else opt("bloomChunkKeys").map(_.toInt)
        .getOrElse(HFile.DefaultBloomChunkKeys),
    maxFileBytes = opt("maxFileBytes").map(_.toLong)
      .getOrElse(HFile.DefaultMaxFileBytes),
    // data block encoding name (none / prefix / diff / fast_diff), like
    // the table-level DATA_BLOCK_ENCODING attribute
    encoding = BlockEncoding.idOf(opt("encoding").getOrElse("none")))

  private def asc(name: String): SortOrder =
    Expressions.sort(Expressions.column(name), SortDirection.ASCENDING)
  private def desc(name: String): SortOrder =
    Expressions.sort(Expressions.column(name), SortDirection.DESCENDING)

  // (bucket, rowkey) only: one rowkey's cells must never straddle a range
  // boundary (overlapping files); family/qualifier/ts order comes from
  // the within-partition sort below
  override def requiredDistribution(): Distribution =
    Distributions.ordered(Array(asc("bucket"), asc("rowkey")))

  override def requiredOrdering(): Array[SortOrder] = {
    val base = Array(asc("bucket"), asc("rowkey"), asc("family"),
      asc("qualifier"), desc("ts"))
    if (schema.fieldNames.contains("key_type")) base :+ desc("key_type")
    else base
  }

  override def toBatch: BatchWrite = {
    // overwrite clears the directory before tasks rename files into it
    // (same driver-side semantics as BulkLoad.writeHFiles)
    HFileDir.startWrite(path, HFileDir.confOf(confMap), overwrite = truncate)
    new HFileBatchWrite(path, schema, format, confMap, info.queryId())
  }
}

object HFileWriteImpl {
  /** Column indexes (bucket, rowkey, family, qualifier, ts, value,
    * key_type or -1), with loud errors for anything missing, mistyped,
    * or unknown.
    */
  private[sources] def fieldIndexes(schema: StructType): Array[Int] = {
    val expected = Map(
      "bucket" -> IntegerType, "rowkey" -> BinaryType,
      "family" -> StringType, "qualifier" -> StringType,
      "ts" -> LongType, "value" -> BinaryType, "key_type" -> IntegerType)
    schema.fields.foreach { f =>
      expected.get(f.name) match {
        case None => throw new IllegalArgumentException(
          s"graft-hfile write: unknown column '${f.name}' " +
            s"(drop it first; expected ${expected.keys.mkString(", ")})")
        case Some(t) => require(f.dataType == t,
          s"graft-hfile write: column '${f.name}' must be $t, got ${f.dataType}")
      }
    }
    def idx(name: String): Int = schema.fieldNames.indexOf(name)
    val required = Seq("bucket", "rowkey", "family", "qualifier", "ts", "value")
    required.foreach(n => require(idx(n) >= 0,
      s"graft-hfile write: missing required column '$n'"))
    (required.map(idx) :+ idx("key_type")).toArray
  }
}

case class HFileCommitMessage(files: Seq[HFileManifest.Entry])
    extends WriterCommitMessage

class HFileBatchWrite(path: String, schema: StructType,
                      format: HFileDir.Format, confMap: Map[String, String],
                      queryId: String) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new HFileDataWriterFactory(path, schema, format, confMap, queryId)

  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    HFileDir.commitWrite(path, HFileDir.confOf(confMap), messages.toSeq.flatMap {
      case HFileCommitMessage(entries) => entries
      case _                           => Nil
    })
    HFileDir.clearTemp(path, HFileDir.confOf(confMap))
  }

  override def abort(messages: Array[WriterCommitMessage]): Unit =
    HFileDir.clearTemp(path, HFileDir.confOf(confMap))
}

class HFileDataWriterFactory(path: String, schema: StructType,
                             format: HFileDir.Format,
                             confMap: Map[String, String], queryId: String)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new HFileDataWriter(path, schema, format, confMap, queryId, partitionId,
      taskId)
}

class HFileDataWriter(path: String, schema: StructType,
                      format: HFileDir.Format, confMap: Map[String, String],
                      queryId: String, partitionId: Int, taskId: Long)
    extends DataWriter[InternalRow] {
  private val Array(iBucket, iRowkey, iFamily, iQualifier, iTs, iValue, iType) =
    HFileWriteImpl.fieldIndexes(schema)
  // queryId is a UUID; 8 chars de-collide appends into an existing dir
  private val writer = new HFileDir.TaskWriter(path, HFileDir.confOf(confMap),
    format, s"part-${queryId.replace("-", "").take(8)}-", partitionId, taskId)

  override def write(row: InternalRow): Unit =
    writer.write(row.getInt(iBucket), HFile.HCell(
      row.getBinary(iRowkey),
      row.getUTF8String(iFamily).toString.getBytes("UTF-8"),
      row.getUTF8String(iQualifier).toString.getBytes("UTF-8"),
      row.getLong(iTs),
      row.getBinary(iValue),
      if (iType < 0) HFile.KeyTypePut else row.getInt(iType).toByte))

  override def commit(): WriterCommitMessage = HFileCommitMessage(writer.commit())
  override def abort(): Unit = writer.abort()
  override def close(): Unit = ()
}

class HFileReaderFactory(required: StructType, confMap: Map[String, String],
                         lower: Option[Array[Byte]] = None,
                         upper: Option[Array[Byte]] = None)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[HFileInputPartition]
    new HFilePartitionReader(p, required, confMap, lower, upper)
  }
}

class HFilePartitionReader(p: HFileInputPartition, required: StructType,
                           confMap: Map[String, String],
                           lower: Option[Array[Byte]] = None,
                           upper: Option[Array[Byte]] = None)
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
    case other => throw new IllegalArgumentException(s"unknown column $other")
  }

  private val rr = HFileDir.open(p.file, HFileDir.confOf(confMap))
  // a corrupt trailer/header throws before the reader is constructed, so
  // close() would never run — release the stream on the failure path.
  // With rowkey bounds, seek through the index and stream only covering
  // blocks; otherwise full scan with every structural check
  private val cells =
    try {
      if (lower.isDefined || upper.isDefined)
        HFileReader.scanRange(rr, lower, upper)
      else HFileReader.scan(rr)
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
