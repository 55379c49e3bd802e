package graft.sources.paged

import java.io.File
import java.util.{Map => JMap}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** O-12 paginated source as a real DataSource V2 connector
  * (insta_scraper_enhanced.py:221-277 — the scroll loop harvesting
  * timeline pages until a target post count, with a page cap).
  *
  * The reference interleaves transport and semantics in one loop; the
  * Spark-first split is:
  *   - THIS source owns the transport contract: ordered pages, paced
  *     admission (`pagesPerTrigger` per micro-batch), stop conditions
  *     (`targetRows` reached, `maxPages` cap) — the politeness knobs of
  *     the scroll loop;
  *   - cross-page dedup/merge (O-54) stays downstream in
  *     [[graft.streaming.Streams.pageMergeDedup]], exactly where the
  *     reference's merge_timeline_data sits.
  *
  * Pages live as `page-NNNNN.txt` files under `path` (the fixture stands
  * in for the remote API; a real connector would swap the file read for
  * an HTTP fetch in [[PagedPartitionReader]] and nothing else changes).
  * Each line is `id<TAB>body`. Offsets are page indices, so a restart
  * resumes from the last committed page — the done-log semantics (O-10)
  * for free from the checkpoint.
  *
  * Scale: one [[InputPartition]] per page; executors fetch pages in
  * parallel within a batch while the driver only tracks a page counter.
  */
class PagedDataSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PagedDataSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: JMap[String, String]): Table =
    new PagedTable(properties.asScala.toMap)
}

object PagedDataSource {
  val schema: StructType = StructType(Seq(
    StructField("creator_key", StringType, nullable = false),
    StructField("page", IntegerType, nullable = false),
    StructField("id", LongType, nullable = false),
    StructField("body", StringType, nullable = true)))

  def pageFiles(dir: String): Array[File] = {
    val f = new File(dir)
    Option(f.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.matches("page-\\d+\\.txt"))
      .sortBy(_.getName)
  }

  /** The ids on one page (first tab-separated field per line). */
  def pageIds(f: File): Array[Long] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().filter(_.nonEmpty).map { line =>
      val tab = line.indexOf('\t')
      (if (tab < 0) line.trim else line.substring(0, tab).trim).toLong
    }.toArray
    finally src.close()
  }
}

class PagedTable(options: Map[String, String]) extends Table with SupportsRead {
  override def name(): String = s"paged(${options.getOrElse("path", "?")})"
  override def schema(): StructType = PagedDataSource.schema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(caseInsensitive: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new PagedScan(options)
    }
}

class PagedScan(options: Map[String, String]) extends Scan {
  private val path = options.getOrElse("path",
    throw new IllegalArgumentException("graft-paged source requires a 'path' option"))
  private val creator = options.getOrElse("creator", new File(path).getName)

  override def readSchema(): StructType = PagedDataSource.schema

  /** Batch flavor: every available page at once (the TEST_MODE-less
    * "just load what's there" path). */
  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] =
      PagedDataSource.pageFiles(path).zipWithIndex
        .map { case (f, i) => PagedPartition(creator, i, f.getAbsolutePath) }
        .toArray[InputPartition]
    override def createReaderFactory(): PartitionReaderFactory = new PagedReaderFactory
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new PagedMicroBatchStream(path, creator,
      pagesPerTrigger = options.getOrElse("pagesPerTrigger", "1").toInt,
      targetRows = options.getOrElse("targetRows", Int.MaxValue.toString).toInt,
      maxPages = options.getOrElse("maxPages", Int.MaxValue.toString).toInt,
      stagnantLimit = options.getOrElse("stagnantLimit", "0").toInt,
      minRowsForStagnantStop = options.getOrElse("minRowsForStagnantStop", "30").toInt)
}

/** Offset = number of pages fully consumed. */
case class PageOffset(page: Int) extends Offset {
  override def json(): String = page.toString
}

class PagedMicroBatchStream(path: String, creator: String, pagesPerTrigger: Int,
                            targetRows: Int, maxPages: Int,
                            stagnantLimit: Int = 0,
                            minRowsForStagnantStop: Int = 30) extends MicroBatchStream {
  // Pages planned so far this run; seeded from the checkpoint via
  // deserializeOffset/commit on restart.
  @volatile private var planned = 0
  // Scroll-progress state over pages [0, scannedPages): cumulative rows,
  // distinct ids seen, and the current run of pages that added nothing
  // new. Rebuilt by re-reading already-planned pages after a restart. At
  // fixture scale an exact id set is fine; a production connector would
  // hold a bloom filter here (driver-side, one per active scroll).
  private var scannedPages = 0
  private var rows = 0
  private var stagnantRun = 0
  private val seenIds = new java.util.HashSet[java.lang.Long]()

  private def scanThrough(files: Array[File], until: Int): Unit =
    while (scannedPages < until) {
      val ids = PagedDataSource.pageIds(files(scannedPages))
      rows += ids.length
      var fresh = 0
      ids.foreach(id => if (seenIds.add(id)) fresh += 1)
      stagnantRun = if (fresh == 0) stagnantRun + 1 else 0
      scannedPages += 1
    }

  override def initialOffset(): Offset = PageOffset(0)

  override def deserializeOffset(json: String): Offset = {
    val o = PageOffset(json.trim.toInt)
    planned = math.max(planned, o.page)
    o
  }

  override def commit(end: Offset): Unit =
    planned = math.max(planned, end.asInstanceOf[PageOffset].page)

  /** Admits up to `pagesPerTrigger` new pages, stopping at `maxPages`,
    * once the cumulative row count has reached `targetRows` (the scroll
    * loop's "enough posts" break), or — with `stagnantLimit` > 0 — after
    * that many consecutive pages added no NEW ids while at least
    * `minRowsForStagnantStop` rows were already harvested (the
    * reference's "3 stagnant scrolls at ≥30 posts" early stop,
    * insta_scraper_enhanced.py:255-264). */
  override def latestOffset(): Offset = {
    val files = PagedDataSource.pageFiles(path)
    val avail = math.min(files.length, maxPages)
    scanThrough(files, math.min(planned, avail))
    def stagnated =
      stagnantLimit > 0 && stagnantRun >= stagnantLimit && rows >= minRowsForStagnantStop
    var end = planned
    while (end < avail && end - planned < pagesPerTrigger && rows < targetRows && !stagnated) {
      scanThrough(files, end + 1)
      end += 1
    }
    planned = end
    PageOffset(end)
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val files = PagedDataSource.pageFiles(path)
    (start.asInstanceOf[PageOffset].page until end.asInstanceOf[PageOffset].page)
      .map(i => PagedPartition(creator, i, files(i).getAbsolutePath))
      .toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory = new PagedReaderFactory
  override def stop(): Unit = ()
}

case class PagedPartition(creator: String, page: Int, file: String) extends InputPartition

class PagedReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[PagedPartition]
    new PagedPartitionReader(p)
  }
}

class PagedPartitionReader(p: PagedPartition) extends PartitionReader[InternalRow] {
  private val src = scala.io.Source.fromFile(new File(p.file), "UTF-8")
  private val lines = src.getLines().filter(_.nonEmpty)
  private var row: InternalRow = _

  override def next(): Boolean =
    if (!lines.hasNext) false
    else {
      val line = lines.next()
      val tab = line.indexOf('\t')
      val (id, body) =
        if (tab < 0) (line.trim.toLong, null)
        else (line.substring(0, tab).trim.toLong, line.substring(tab + 1))
      row = InternalRow(
        UTF8String.fromString(p.creator), p.page, id,
        if (body == null) null else UTF8String.fromString(body))
      true
    }

  override def get(): InternalRow = row
  override def close(): Unit = src.close()
}
