package graft.sources

import java.io.{FilterInputStream, IOException, InputStream}

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.{HadoopReadOptions, ParquetReadOptions}
import org.apache.parquet.filter2.compat.FilterCompat
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.format.{PageType, Util}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetInputFormat}
import org.apache.parquet.hadoop.metadata.{BlockMetaData, ColumnChunkMetaData, ColumnPath, FileMetaData, ParquetMetadata}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.internal.column.columnindex.{ColumnIndex, OffsetIndex, OffsetIndexBuilder}
import org.apache.parquet.internal.filter2.columnindex.{ColumnIndexFilter, ColumnIndexStore, RowRanges}
import org.apache.parquet.io.SeekableInputStream

import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.PlanExpression
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.{ColumnarRule, FileSourceScanExec, SparkPlan}
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, FileFormat, FilePartition, HadoopFsRelation, PartitionedFile, RecordReaderIterator}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFilters, ParquetFooterReader, ParquetOptions, ParquetUtils, RowSliceReader}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}
import org.apache.spark.util.SerializableConfiguration

/** Row-range scan splits: a parquet row group larger than Spark's byte
  * split is read by as many tasks as it covers splits, each taking a slice
  * of its rows, instead of by the one split that holds its midpoint.
  *
  * Why: a file written as one row group (every fixture table; any small
  * writer's output) otherwise runs its whole scan — and every operator
  * fused into the scan stage — in one task while the other splits of the
  * same file read nothing. Like the reference's split generation followed
  * by a data scan (SURVEY §2.1), the work is cut by position in the file,
  * not by how the file was written.
  *
  * Which rows: Spark's midpoint rule, applied to parts of a group. An
  * `n`-row group spanning bytes `[gs, ge)` (the span the midpoint rule
  * uses), under splits of `m` bytes, is cut into `q = max(1, round((ge −
  * gs) / m))` parts of `n / q` rows, and each part is read by the split
  * that holds the midpoint of its share of the byte span. Spark's splits
  * tile the file, so each part, and each row, is read exactly once. A group no
  * larger than 1.5 splits has `q = 1` and goes whole to the split that
  * holds its midpoint, as in Spark's reader: a group that merely
  * straddles a split boundary is not cut, because both tasks would then
  * read its dictionary pages and the pages at the cut (measured in
  * SCALING.md: 24–61% more bytes read on multi-row-group pyarrow files).
  *
  * How: [[Install]] swaps the exact `ParquetFileFormat` of a physical,
  * unbucketed `FileSourceScanExec` for [[Format]] when one of its selected
  * files is larger than the scan's split size (Spark's own
  * `FilePartition.maxSplitBytes` over the statically pruned listing; files
  * that dynamic pruning drops can only lower the split Spark uses, which
  * cuts fewer parts but never reads a row twice), so analyzed and
  * optimized plans, the plan cache, reflection fingerprints and `sys_*`
  * never see it; Spark's split planning, task counts and conf are
  * untouched. [[Format]] hands Spark's
  * own reader every whole-file split, every split of a scan that reads a
  * repeated (list or map) column, the row-index metadata column, or that
  * the vectorized reader does not support, and every split of an
  * encrypted file — each decided from the conf, the requested schema and
  * the footer only, so all splits of a file choose alike. Every other
  * split opens its file once and reads it through `RowSliceReader`
  * (Spark's vectorized reader with the row-group source swapped): the
  * footer gives the row groups that the split reads rows of; a group it
  * reads whole is read as Spark's reader would read it, and a part of a
  * group by row range through parquet-mr's `readFilteredRowGroup`,
  * which needs an offset index (page offsets and first rows): files that
  * carry one (Spark-written) use it; for files that do not (pyarrow's), it
  * is built from the column chunk's page headers and kept in a
  * process-wide LRU. The pushed filters prune row groups (statistics,
  * dictionaries, bloom filters) and skip pages (column indexes) exactly as
  * Spark's reader does, among the groups the split reads.
  *
  * Failure: a page header that cannot be read, or page row counts that do
  * not add up to the group's, fail the task. There is no quiet fallback to
  * the midpoint rule — another split of the same file may already have
  * read its slice.
  *
  * Cost: a scan whose files all fit in a split each is left to Spark,
  * after one more listing of its statically pruned files at planning (in
  * memory for Spark's and the lake's file indexes). A split of a larger
  * file reads the footer once, as Spark's reader does, and converts the metadata of all of its row groups, where Spark's
  * reader keeps only those whose midpoint the split holds; the scan pays
  * one more broadcast of the Hadoop conf. Each cut group has its
  * dictionary pages and the pages at each cut read by both neighbours,
  * and, in files without an offset index, one pass over the page headers
  * of each requested column chunk, cached under [[MaxIndexes]].
  */
object RowSlices {

  /** Built offset indexes kept, one per (file, row group, column). */
  val MaxIndexes = 4096

  /** Rows `[from, until)` of an `n`-row group spanning bytes `[gs, ge)`
    * that the byte split `[s, e)` reads when the file is cut into splits
    * of `m` bytes: the parts of the group whose byte midpoints lie in
    * `[s, e)`. */
  def slice(n: Long, gs: Long, ge: Long, s: Long, e: Long, m: Long): (Long, Long) = {
    val size = BigInt(ge - gs)
    val q = BigInt(math.max(1L, math.round((ge - gs).toDouble / m)))
    // parts j whose midpoint gs + ⌊(2j+1)·size/(2q)⌋ lies before byte b
    def parts(b: Long): BigInt = {
      val over = 2 * q * (b - gs) - size
      if (over <= 0) BigInt(0) else ((over + 2 * size - 1) / (2 * size)).min(q)
    }
    ((n * parts(s) / q).toLong, (n * parts(e) / q).toLong)
  }

  private def span(b: BlockMetaData): (Long, Long) =
    (b.getStartingPos, b.getStartingPos + b.getCompressedSize)

  /** Rows of `b` that the byte split `[s, e)` reads under splits of `m` bytes. */
  private def rowsIn(b: BlockMetaData, s: Long, e: Long, m: Long): (Long, Long) = {
    val (gs, ge) = span(b)
    slice(b.getRowCount, gs, ge, s, e, m)
  }

  /** Physical-planning hook (a columnar rule: it runs on every plan Spark
    * prepares for execution, AQE stages included). */
  object Install extends ColumnarRule {
    override def preColumnarTransitions: Rule[SparkPlan] = plan => plan.transformUp {
      case scan: FileSourceScanExec
          if scan.relation.fileFormat.getClass == classOf[ParquetFileFormat] &&
            !scan.bucketedScan && mayCrossSplits(scan.relation) =>
        val r = scan.relation
        // the scan's static listing, made apart from the scan's own: a
        // listing forced on the scan at planning leaves its numFiles
        // metric at 0
        val dirs = r.location.listFiles(
          scan.partitionFilters.filterNot(_.exists(_.isInstanceOf[PlanExpression[_]])),
          scan.dataFilters)
        val m = FilePartition.maxSplitBytes(r.sparkSession, dirs)
        if (!dirs.exists(_.files.exists(_.getLen > m))) scan
        else scan.copy(relation = r.copy(fileFormat = new Format,
          options = r.options + (SplitBytesOption -> m.toString))(r.sparkSession))
    }
  }

  /** The split size the tasks of a swapped relation cut row groups by. It
    * also marks the relation as swapped, which the formats alone cannot:
    * the stock format's `equals` is an instance check, so the old scan
    * would equal the new one, and a plan transform keeps a child its
    * replacement equals. Spark's reader ignores the option. */
  private val SplitBytesOption = "graft.rowSlices.splitBytes"

  /** Can a file of `r` be larger than a split? A split is never smaller
    * than min(maxPartitionBytes, openCostInBytes); below that, the scan is
    * not even listed. */
  private def mayCrossSplits(r: HadoopFsRelation): Boolean = {
    val conf = r.sparkSession.sessionState.conf
    r.location.sizeInBytes > math.min(conf.filesMaxPartitionBytes, conf.filesOpenCostInBytes)
  }

  /** Spark's parquet format, reading row groups larger than a split by
    * row range. Equal to the stock format (`ParquetFileFormat.equals` is an
    * instance check), so it hashes alike. */
  final class Format extends ParquetFileFormat {
    override def hashCode(): Int = classOf[ParquetFileFormat].hashCode

    override def buildReaderWithPartitionValues(
        spark: SparkSession, dataSchema: StructType, partitionSchema: StructType,
        requiredSchema: StructType, filters: Seq[Filter], options: Map[String, String],
        hadoopConf: Configuration): PartitionedFile => Iterator[InternalRow] = {
      // also completes hadoopConf as Spark's reader needs it
      val stock = super.buildReaderWithPartitionValues(spark, dataSchema, partitionSchema,
        requiredSchema, filters, options, hadoopConf)
      val conf = spark.sessionState.conf
      val resultSchema = StructType(partitionSchema.fields ++ requiredSchema.fields)
      if (!ParquetUtils.isBatchReadSupportedForSchema(conf, resultSchema) ||
          requiredSchema.exists(f => repeated(f.dataType)) ||
          requiredSchema.fieldNames.contains(ParquetFileFormat.ROW_INDEX_TEMPORARY_COLUMN_NAME))
        stock
      else {
        val parquetOptions = new ParquetOptions(options, conf)
        val read = Sliced(
          spark.sparkContext.broadcast(new SerializableConfiguration(hadoopConf)),
          options(SplitBytesOption).toLong, partitionSchema, filters,
          options(FileFormat.OPTION_RETURNING_BATCH).toBoolean,
          conf.offHeapColumnVectorEnabled, conf.parquetVectorizedReaderBatchSize,
          conf.parquetFilterPushDown, conf.parquetFilterPushDownDate,
          conf.parquetFilterPushDownTimestamp, conf.parquetFilterPushDownDecimal,
          conf.parquetFilterPushDownStringPredicate,
          conf.parquetFilterPushDownInFilterThreshold, conf.caseSensitiveAnalysis,
          parquetOptions.datetimeRebaseModeInRead, parquetOptions.int96RebaseModeInRead,
          conf.isParquetINT96TimestampConversion)
        file => read(file, stock)
      }
    }
  }

  private def repeated(t: DataType): Boolean = t match {
    case _: ArrayType | _: MapType => true
    case s: StructType => s.exists(f => repeated(f.dataType))
    case _ => false
  }

  /** The task side of [[Format]]: the settings Spark's reader takes from
    * the session, applied to one split at a time. */
  private final case class Sliced(
      conf: Broadcast[SerializableConfiguration], splitBytes: Long, partitionSchema: StructType,
      filters: Seq[Filter], returningBatch: Boolean, offHeap: Boolean, capacity: Int,
      pushDown: Boolean, pushDownDate: Boolean, pushDownTimestamp: Boolean,
      pushDownDecimal: Boolean, pushDownString: Boolean, inThreshold: Int,
      caseSensitive: Boolean, datetimeRebaseMode: String, int96RebaseMode: String,
      int96Conversion: Boolean) {

    def apply(file: PartitionedFile,
              stock: PartitionedFile => Iterator[InternalRow]): Iterator[InternalRow] = {
      if (file.start == 0 && file.length >= file.fileSize) return stock(file)
      val (s, e) = (file.start, file.start + file.length)
      val shared = conf.value.value
      val input = HadoopInputFile.fromPath(file.toPath, shared)
      val footer = ParquetFooterReader.readFooter(input, ParquetMetadataConverter.NO_FILTER)
      if (encrypted(footer)) return stock(file)

      val meta = footer.getFileMetaData
      val kv = meta.getKeyValueMetaData
      val datetimeRebase = DataSourceUtils.datetimeRebaseSpec(kv.get, datetimeRebaseMode)
      val int96Rebase = DataSourceUtils.int96RebaseSpec(kv.get, int96RebaseMode)
      val pushed =
        if (!pushDown) None
        else {
          val pf = new ParquetFilters(meta.getSchema, pushDownDate, pushDownTimestamp,
            pushDownDecimal, pushDownString, inThreshold, caseSensitive, datetimeRebase)
          filters.flatMap(pf.createFilter).reduceOption(FilterApi.and)
        }
      val convertTz =
        if (int96Conversion && !meta.getCreatedBy.startsWith("parquet-mr"))
          DateTimeUtils.getZoneId(shared.get(SQLConf.SESSION_LOCAL_TIMEZONE.key))
        else null
      val context = new TaskAttemptContextImpl(shared,
        new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, 0), 0))
      pushed.foreach(ParquetInputFormat.setFilterPredicate(context.getConfiguration, _))

      // only the groups this split reads rows of go to the reader, which
      // prunes among them by the pushed filters
      val groups = new ParquetMetadata(meta, footer.getBlocks.asScala.filter { b =>
        val (from, until) = rowsIn(b, s, e, splitBytes)
        until > from
      }.asJava)
      val stream = input.newStream()
      val rows =
        try new PagedReader(input, groups,
          HadoopReadOptions.builder(context.getConfiguration, file.toPath).build(), stream,
          s"${file.filePath}\u0000${file.fileSize}\u0000${file.modificationTime}")
        catch { case NonFatal(t) => stream.close(); throw t }
      // row groups the pushed filters left, in file order, with their rows
      val slices = rows.getRowGroups.asScala.toSeq.zipWithIndex.flatMap { case (b, i) =>
        val (from, until) = rowsIn(b, s, e, splitBytes)
        Some(i -> rows.rowsOf(i, from, until)).filter(_._2.rowCount > 0)
      }

      val reader = new RowSliceReader(convertTz, datetimeRebase.mode.toString,
        datetimeRebase.timeZone, int96Rebase.mode.toString, int96Rebase.timeZone,
        offHeap && TaskContext.get() != null, capacity)
      val iter = new RecordReaderIterator(reader)
      try {
        reader.initialize(new FileSplit(file.toPath, file.start, file.length, Array.empty[String]),
          context, input, stream, rows, slices)
        reader.initBatch(partitionSchema, file.partitionValues)
        if (returningBatch) reader.enableReturningBatches()
        iter.asInstanceOf[Iterator[InternalRow]]
      } catch {
        case t: Throwable =>
          try iter.close() finally rows.close()
          throw t
      }
    }
  }

  private def encrypted(footer: ParquetMetadata): Boolean =
    footer.getFileMetaData.getEncryptionType != FileMetaData.EncryptionType.UNENCRYPTED

  /** Rows `[from, until)` of an `n`-row group, as parquet-mr's row ranges
    * (built from the selected first page of a two-page index). */
  private def rowRange(n: Long, from: Long, until: Long): RowRanges =
    RowRanges.create(n, java.util.stream.IntStream.of(0).iterator(), new OffsetIndex {
      override def getPageCount: Int = 2
      override def getOffset(page: Int): Long = 0L
      override def getCompressedPageSize(page: Int): Int = 0
      override def getFirstRowIndex(page: Int): Long = if (page == 0) from else until
    })

  /** A file reader whose row groups without an offset index get one built
    * from their page headers. `file` identifies the file's contents. */
  private final class PagedReader(input: HadoopInputFile, footer: ParquetMetadata,
                                  options: ParquetReadOptions, stream: SeekableInputStream,
                                  file: String)
      extends ParquetFileReader(input, footer, options, stream) {
    private val columns: java.util.Set[ColumnPath] =
      footer.getFileMetaData.getSchema.getColumns.asScala
        .map(c => ColumnPath.get(c.getPath: _*)).toSet.asJava

    private def indexed(block: BlockMetaData): Boolean =
      block.getColumns.asScala.forall(_.getOffsetIndexReference != null)

    /** Rows `[from, until)` of row group `group`, less the pages that the
      * pushed filters rule out by the file's column indexes (the pages
      * Spark's reader skips). */
    def rowsOf(group: Int, from: Long, until: Long): RowRanges = {
      val block = getRowGroups.get(group)
      val part = rowRange(block.getRowCount, from, until)
      val filter = options.getRecordFilter
      if (!options.useColumnIndexFilter || !FilterCompat.isFilteringRequired(filter) ||
          !indexed(block)) part
      else RowRanges.intersection(part, ColumnIndexFilter.calculateRowRanges(
        filter, getColumnIndexStore(group), columns, block.getRowCount))
    }

    override def getColumnIndexStore(group: Int): ColumnIndexStore = {
      val block = getRowGroups.get(group)
      val chunks = block.getColumns.asScala
      if (indexed(block)) super.getColumnIndexStore(group)
      else new ColumnIndexStore {
        override def getColumnIndex(column: ColumnPath): ColumnIndex = null
        override def getOffsetIndex(column: ColumnPath): OffsetIndex = {
          val chunk = chunks.find(_.getPath == column).getOrElse(
            throw new IOException(s"no column chunk $column in a row group of $file"))
          cached(IndexKey(file, block.getStartingPos, column.toDotString),
            pageIndex(f, chunk, block.getRowCount))
        }
      }
    }
  }

  private final case class IndexKey(file: String, group: Long, column: String)

  private val indexes =
    new java.util.LinkedHashMap[IndexKey, OffsetIndex](64, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[IndexKey, OffsetIndex]): Boolean =
        size > MaxIndexes
    }

  private def cached(key: IndexKey, build: => OffsetIndex): OffsetIndex =
    indexes.synchronized(Option(indexes.get(key))).getOrElse {
      val built = build
      indexes.synchronized(indexes.put(key, built))
      built
    }

  /** Number of offset indexes built from page headers and still cached. */
  def cachedIndexes: Int = indexes.synchronized(indexes.size)

  /** The offset index of `chunk` (data pages: offset, size with header,
    * first row), from a pass over its page headers. A v1 page's
    * `num_values` is its row count for a non-repeated column; a v2 page
    * states `num_rows`. */
  private def pageIndex(in: SeekableInputStream, chunk: ColumnChunkMetaData,
                        rows: Long): OffsetIndex = {
    val index = OffsetIndexBuilder.getBuilder
    val headers = new Counting(in)
    val end = chunk.getStartingPos + chunk.getTotalSize
    var pos = chunk.getStartingPos
    var first = 0L
    while (pos < end) {
      in.seek(pos)
      headers.count = 0
      val h = Util.readPageHeader(headers)
      val size = headers.count + h.getCompressed_page_size
      val pageRows = h.getType match {
        case PageType.DATA_PAGE => h.getData_page_header.getNum_values.toLong
        case PageType.DATA_PAGE_V2 => h.getData_page_header_v2.getNum_rows.toLong
        case _ => -1L // dictionary and index pages hold no rows
      }
      if (pageRows >= 0) {
        index.add(pos, Math.toIntExact(size), first)
        first += pageRows
      }
      pos += size
    }
    if (first != rows || pos != end)
      throw new IOException(s"page headers of column ${chunk.getPath} give $first rows " +
        s"ending at byte $pos; its row group has $rows rows ending at byte $end")
    index.build()
  }

  private final class Counting(in: InputStream) extends FilterInputStream(in) {
    var count = 0L
    override def read(): Int = {
      val b = super.read()
      if (b >= 0) count += 1
      b
    }
    override def read(buf: Array[Byte], off: Int, len: Int): Int = {
      val n = super.read(buf, off, len)
      if (n > 0) count += n
      n
    }
  }
}
