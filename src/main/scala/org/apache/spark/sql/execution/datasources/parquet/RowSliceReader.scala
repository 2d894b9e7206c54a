package org.apache.spark.sql.execution.datasources.parquet

import java.time.ZoneId

import org.apache.hadoop.mapred.FileSplit
import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.parquet.column.page.PageReadStore
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.internal.filter2.columnindex.RowRanges
import org.apache.parquet.io.SeekableInputStream

/** Spark's vectorized parquet reader over chosen row ranges of chosen row
  * groups (see `graft.sources.RowSlices`, which plans the ranges).
  *
  * Spark's own initialization runs unchanged — schema clipping, rebase
  * modes, the missing-column checks and, later, `initBatch` — over the
  * file's footer with its row groups left out. Only the row-group source
  * (`reader`, whose type is package-private) and `totalRowCount` are then
  * replaced: `rows.readFilteredRowGroup` returns each group's pages with
  * the row indexes of its slice, which Spark's column readers already
  * honour by skipping the rows outside them (the column-index path).
  */
class RowSliceReader(
    convertTz: ZoneId,
    datetimeRebaseMode: String,
    datetimeRebaseTz: String,
    int96RebaseMode: String,
    int96RebaseTz: String,
    useOffHeap: Boolean,
    capacity: Int)
  extends VectorizedParquetRecordReader(convertTz, datetimeRebaseMode, datetimeRebaseTz,
    int96RebaseMode, int96RebaseTz, useOffHeap, capacity) {

  /** Read `slices` — (index into `rows.getRowGroups`, rows of that group)
    * in file order — through `rows`, which reads `stream`; closing this
    * reader closes both. */
  def initialize(split: FileSplit, context: TaskAttemptContext, file: HadoopInputFile,
                 stream: SeekableInputStream, rows: ParquetFileReader,
                 slices: Seq[(Int, RowRanges)]): Unit = {
    val noGroups = new ParquetMetadata(rows.getFooter.getFileMetaData,
      java.util.Collections.emptyList())
    super.initialize(split, context, Some(file), Some(stream), Some(noGroups))
    rows.setRequestedSchema(requestedSchema)
    reader = new RowSliceReader.Groups(rows, slices)
    totalRowCount = slices.map(_._2.rowCount).sum
  }
}

object RowSliceReader {
  private final class Groups(rows: ParquetFileReader, slices: Seq[(Int, RowRanges)])
      extends SpecificParquetRecordReaderBase.ParquetRowGroupReader {
    private val pending = slices.iterator
    private var current: PageReadStore = _

    override def readNextRowGroup(): PageReadStore = {
      release()
      if (pending.hasNext) {
        val (group, ranges) = pending.next()
        current = rows.readFilteredRowGroup(group, ranges)
      }
      current
    }

    private def release(): Unit =
      if (current != null) { current.close(); current = null }

    override def close(): Unit = try release() finally rows.close()
  }
}
