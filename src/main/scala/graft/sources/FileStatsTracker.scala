package graft.sources

import java.io.ByteArrayOutputStream

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types._
import org.apache.spark.util.sketch.BloomFilter

/** The manifest's per-file commit facts for one written file: its row
  * count, the [lo, hi] of each stats column (None when the column is
  * all-null in the file) and one serialized Bloom filter per bloom
  * column. Values are in the stored stats unit: integral columns as
  * long, timestamps as epoch micros. */
private[sources] final case class FileFacts(
    rows: Long, bounds: Seq[Option[(Long, Long)]], blooms: Seq[Array[Byte]])

private[sources] final case class FileFactsStats(files: Seq[(String, FileFacts)])
    extends WriteTaskStats

/** Computes [[FileFacts]] inside the write tasks themselves (the shape
  * of Delta's `DeltaJobStatisticsTracker`): every row a task writes is
  * folded into its open file's accumulator, the finished facts ride
  * the task's commit message to the driver, and [[perFile]] holds them
  * keyed by file name once the job commits — so a commit needs no Spark
  * job after the data write. Each file's Bloom filter is sized by that
  * file's own exact distinct count at false-positive rate `fpp`; the
  * distinct values live in a primitive [[LongHashSet]] only while the
  * file is open. */
private[sources] final class FileStatsTracker(
    schema: StructType, statCols: Seq[String], bloomCols: Seq[String],
    fpp: Double) extends WriteJobStatsTracker {

  private val statOrds = statCols.map(schema.fieldIndex).toArray
  private val bloomOrds = bloomCols.map(schema.fieldIndex).toArray
  private val types = schema.fields.map(_.dataType)

  @transient private var facts = Map.empty[String, FileFacts]

  /** File name → facts for every file the committed tasks wrote, empty
    * ones (rows = 0) included. */
  def perFile: Map[String, FileFacts] = facts

  override def newTaskInstance(): WriteTaskStatsTracker = new Task

  override def processStats(stats: Seq[WriteTaskStats],
                            jobCommitTime: Long): Unit =
    facts = stats.flatMap { case s: FileFactsStats => s.files }.toMap

  /** A value's stored stats unit; callers check nulls first. */
  private def longAt(row: InternalRow, i: Int): Long = types(i) match {
    case ByteType => row.getByte(i)
    case ShortType => row.getShort(i)
    case IntegerType => row.getInt(i)
    case _ => row.getLong(i) // LongType, and TimestampType's epoch micros
  }

  private final class Open {
    var rows = 0L
    val lo: Array[Long] = Array.fill(statOrds.length)(Long.MaxValue)
    val hi: Array[Long] = Array.fill(statOrds.length)(Long.MinValue)
    val distinct: Array[LongHashSet] = Array.fill(bloomOrds.length)(new LongHashSet)

    def add(row: InternalRow): Unit = {
      rows += 1
      var j = 0
      while (j < statOrds.length) {
        val i = statOrds(j)
        if (!row.isNullAt(i)) {
          val v = longAt(row, i)
          if (v < lo(j)) lo(j) = v
          if (v > hi(j)) hi(j) = v
        }
        j += 1
      }
      j = 0
      while (j < bloomOrds.length) {
        val i = bloomOrds(j)
        if (!row.isNullAt(i)) distinct(j).add(longAt(row, i))
        j += 1
      }
    }

    def finish(): FileFacts = FileFacts(rows,
      statOrds.indices.map(j =>
        if (lo(j) <= hi(j)) Some((lo(j), hi(j))) else None),
      distinct.toSeq.map { set =>
        val bf = BloomFilter.create(math.max(1L, set.size.toLong), fpp)
        set.foreach(v => bf.putLong(v))
        val out = new ByteArrayOutputStream()
        bf.writeTo(out)
        out.toByteArray
      })
  }

  private final class Task extends WriteTaskStatsTracker {
    private val open = scala.collection.mutable.HashMap.empty[String, Open]
    private val done = Seq.newBuilder[(String, FileFacts)]

    override def newPartition(partitionValues: InternalRow): Unit = ()
    override def newFile(filePath: String): Unit =
      open.getOrElseUpdate(filePath, new Open)

    override def newRow(filePath: String, row: InternalRow): Unit =
      open.getOrElseUpdate(filePath, new Open).add(row)

    override def closeFile(filePath: String): Unit =
      open.remove(filePath).foreach(o =>
        done += new Path(filePath).getName -> o.finish())

    override def getFinalStats(taskCommitTime: Long): WriteTaskStats = {
      open.keys.toList.foreach(closeFile)
      FileFactsStats(done.result())
    }
  }
}

/** Open-addressing hash set of primitive longs (linear probing, no
  * boxing) — the per-file distinct-value set a Bloom filter is sized
  * from. */
private[sources] final class LongHashSet {
  private var slots = new Array[Long](16)
  private var used = new Array[Boolean](16)
  private var n = 0

  def size: Int = n

  def add(v: Long): Unit = {
    if (2 * (n + 1) > slots.length) grow()
    val mask = slots.length - 1
    var i = slot(v, mask)
    while (used(i)) {
      if (slots(i) == v) return
      i = (i + 1) & mask
    }
    used(i) = true; slots(i) = v; n += 1
  }

  def foreach(f: Long => Unit): Unit = {
    var i = 0
    while (i < slots.length) { if (used(i)) f(slots(i)); i += 1 }
  }

  private def slot(v: Long, mask: Int): Int = {
    val h = v * 0x9E3779B97F4A7C15L
    (h ^ (h >>> 32)).toInt & mask
  }

  private def grow(): Unit = {
    val (olds, oldUsed) = (slots, used)
    slots = new Array[Long](olds.length * 2)
    used = new Array[Boolean](olds.length * 2)
    n = 0
    var i = 0
    while (i < olds.length) { if (oldUsed(i)) add(olds(i)); i += 1 }
  }
}
