package perfbench

import java.util.SplittableRandom

/** Zipf(s) over ranks 0 until n, sampled by inverse CDF. */
final class Zipf(n: Int, s: Double) {
  private val cdf: Array[Double] = {
    val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
    val out = w.scanLeft(0.0)(_ + _).tail
    val total = out.last
    out.map(_ / total)
  }

  def sample(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    var lo = 0; var hi = n - 1
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (cdf(mid) < u) lo = mid + 1 else hi = mid
    }
    lo
  }
}

/** One TSDB cell: (user, hour, event type) with its versions. The rowkey
  * graft writes for it is `salt(2B bucket) + hour(4B epoch s) + user(8B)`
  * (TsdbBulkload's salt-then-time layout); family is `m`, qualifier the
  * event type, each version one event (ts ms, value).
  */
final case class TsdbCell(user: Long, hourSec: Int, qualifier: String,
                          versionsMs: Array[Long], values: Array[Double])

object Gen {
  val EventTypes: Array[String] = Array("view", "click", "buy", "share", "error")
  /** 2024-01-01T00:00:00Z, the first hour of every generated stream. */
  val BaseHourSec = 1704067200

  def rng(seed: Long, stream: Int): SplittableRandom =
    new SplittableRandom(seed * 1000003L + stream)

  /** `cells` distinct (user, hour, type) cells, users Zipf(`zipf`) over
    * 1..users, hours uniform over `hours`, 1 to `maxVersions` versions
    * each at distinct milliseconds of the hour.
    */
  def tsdbCells(seed: Long, cells: Int, users: Int, hours: Int, zipf: Double,
                maxVersions: Int): Array[TsdbCell] = {
    val r = rng(seed, 1)
    val z = new Zipf(users, zipf)
    val seen = new java.util.HashSet[(Long, Int, Int)]()
    val out = new Array[TsdbCell](cells)
    var n = 0
    while (n < cells) {
      val user = z.sample(r) + 1L
      val hour = r.nextInt(hours)
      val typ = r.nextInt(EventTypes.length)
      if (seen.add((user, hour, typ))) {
        val v = 1 + r.nextInt(maxVersions)
        val offs = scala.collection.mutable.SortedSet.empty[Long]
        while (offs.size < v) offs += r.nextInt(3600 * 1000).toLong
        val hourSec = BaseHourSec + hour * 3600
        out(n) = TsdbCell(user, hourSec, EventTypes(typ),
          offs.toArray.map(_ + hourSec * 1000L),
          Array.fill(v)(r.nextInt(100000) / 100.0))
        n += 1
      }
    }
    out
  }

  /** Events table rows (testdata `events` schema) for the cells. */
  def eventRows(cells: Array[TsdbCell]): Array[org.apache.spark.sql.Row] = {
    var id = 0L
    cells.flatMap { c =>
      c.versionsMs.indices.map { i =>
        id += 1
        org.apache.spark.sql.Row(id, new java.sql.Timestamp(c.versionsMs(i)),
          c.user, c.qualifier, c.values(i), s"""{"k": ${id % 100}}""")
      }
    }
  }

  val EventsSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("event_id", LongType), StructField("ts", TimestampType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
  }
}
