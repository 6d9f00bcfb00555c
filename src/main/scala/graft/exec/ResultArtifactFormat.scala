package graft.exec

import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, Expression, UnsafeProjection}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.csv.CSVFileFormat
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{StringType, StructType}

import QueryExecutionManager.RowIdx

/** The lifecycle's one artifact write. Each task writes the row-indexed
  * parquet page file and, beside it in the same task-attempt directory,
  * the CSV twin of the same rows: a `.csv` part with a header, the index
  * column dropped and every cell rendered by `CAST(… AS STRING)`, as
  * [[ResultArtifactFormat.asCells]] renders a page. The job's commit
  * publishes both files at once, so the plan runs in one Spark job and
  * no task reads the pages back. */
class ResultArtifactFormat extends ParquetFileFormat {

  override def prepareWrite(spark: SparkSession, job: Job, options: Map[String, String],
      dataSchema: StructType): OutputWriterFactory = {
    val pages = super.prepareWrite(spark, job, options, dataSchema)
    val tz = Some(SQLConf.get.sessionLocalTimeZone)
    val cells = dataSchema.zipWithIndex.collect { case (f, i) if f.name != RowIdx =>
      Cast(BoundReference(i, f.dataType, f.nullable), StringType, tz)
    }
    val csvSchema = StructType(
      dataSchema.filter(_.name != RowIdx).map(_.copy(dataType = StringType)))
    val csv = new CSVFileFormat().prepareWrite(spark, job, Map("header" -> "true"), csvSchema)
    new ResultArtifactFormat.TeeFactory(pages, csv, csvSchema, cells)
  }
}

object ResultArtifactFormat {

  /** `page` as the CSV twin holds it: every column replaced by its
    * `CAST(… AS STRING)`. */
  private[exec] def asCells(page: DataFrame): DataFrame =
    page.select(page.columns.toSeq.map(c =>
      page.col(s"`${c.replace("`", "``")}`").cast(StringType).as(c)): _*)

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
