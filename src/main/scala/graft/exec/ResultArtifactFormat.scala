package graft.exec

import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, StringType, StructType}

import QueryExecutionManager.{CsvHeader, RowIdx}

/** The lifecycle's one artifact write. Each task writes the row-indexed
  * parquet page file and, beside it in the same task-attempt directory,
  * the CSV twin of the same rows: a `.csv` part with a header, the index
  * column dropped and every column CSV cannot hold rendered by
  * `CAST(… AS STRING)`. The job's commit publishes both files at once,
  * so the plan runs in one Spark job and no task reads the pages back. */
class ResultArtifactFormat extends ParquetFileFormat {

  override def prepareWrite(spark: SparkSession, job: Job, options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    val pages = super.prepareWrite(spark, job, options, dataSchema)
    val tz = Some(SQLConf.get.sessionLocalTimeZone)
    val cells = dataSchema.zipWithIndex.collect { case (f, i) if f.name != RowIdx =>
      val cell = BoundReference(i, f.dataType, f.nullable)
      if (ResultArtifactFormat.asString(f.dataType)) Cast(cell, StringType, tz) else cell
    }
    val csvSchema = StructType(dataSchema.filter(_.name != RowIdx).map(f =>
      if (ResultArtifactFormat.asString(f.dataType)) f.copy(dataType = StringType) else f))
    val csv = new CSVFileFormat().prepareWrite(spark, job, CsvHeader, csvSchema)
    new ResultArtifactFormat.TeeFactory(pages, csv, csvSchema, cells)
  }
}

object ResultArtifactFormat {

  private val Csv = new CSVFileFormat()

  /** Whether a column of `dt` is served as its `CAST(… AS STRING)`: true
    * for the types CSV cannot hold (arrays, maps, structs). */
  private def asString(dt: DataType): Boolean = !Csv.supportDataType(dt)

  /** `page` as the CSV twin holds it: each column CSV cannot hold
    * replaced by its string cast. */
  private[exec] def asCells(page: DataFrame): DataFrame =
    if (!page.schema.exists(f => asString(f.dataType))) page
    else page.select(page.schema.map { f =>
      val c = page.col(s"`${f.name.replace("`", "``")}`")
      if (asString(f.dataType)) c.cast(StringType).as(f.name) else c
    }: _*)

  private final class TeeFactory(pages: OutputWriterFactory, csv: OutputWriterFactory,
      csvSchema: StructType, cells: Seq[Expression]) extends OutputWriterFactory {

    override def getFileExtension(ctx: TaskAttemptContext): String = pages.getFileExtension(ctx)

    override def newInstance(path: String, dataSchema: StructType,
        ctx: TaskAttemptContext): OutputWriter = {
      val csvPath = path.stripSuffix(pages.getFileExtension(ctx)) + csv.getFileExtension(ctx)
      new TeeWriter(pages.newInstance(path, dataSchema, ctx),
        csv.newInstance(csvPath, csvSchema, ctx), UnsafeProjection.create(cells))
    }
  }

  /** Writes each row to the page file and its projection to the CSV part. */
  private final class TeeWriter(pages: OutputWriter, csv: OutputWriter,
      project: UnsafeProjection) extends OutputWriter {
    override def write(row: InternalRow): Unit = {
      pages.write(row)
      csv.write(project(row))
    }
    override def close(): Unit = try pages.close() finally csv.close()
    override def path(): String = pages.path()
  }
}
