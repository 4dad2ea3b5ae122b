package org.apache.spark.sql.graft

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptContext}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.{DataFrame, DataFrameWriter, Row, SparkSession}
import org.apache.spark.sql.catalyst.{InternalRow, ProjectingInternalRow}
import org.apache.spark.sql.execution.datasources.{FileFormat, OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetOutputWriter, ParquetWriteSupport}
import org.apache.spark.sql.functions.{col, lit, struct}
import org.apache.spark.sql.types.StructType

/** One staged write, several sinks: a frame whose rows carry, besides
  * the data image, images bound for the commit's `_`-prefixed side
  * tables (the `_changes` feed, the `_dv` mask), written by ONE Spark
  * execution — each task writes its data file and its side files side
  * by side, and the task committer moves them together. This is the
  * Delta CDF write shape (one plan over the merge join, several sinks)
  * on the data-source write contract: a [[FileFormat]] whose
  * [[OutputWriter]] routes each row's images.
  *
  * The routing lives in the frame's columns:
  *  - [[Keep]] (boolean): the row's data image — every column that is
  *    not a routing column — goes to the data file;
  *  - `sideCol(name, k)` (struct, null = none): an image for side table
  *    `name`, written to `<staging>/_<name>/part-*` with the struct's
  *    schema; a side may take several image columns (a merge row emits
  *    up to two change images).
  * Every column of a side carries the same struct type, which is the
  * schema its files have. */
object RoutedWrite {
  val Keep = "__graft_route_keep"
  private val SidePrefix = "__graft_route__"
  private val DepthOption = "graft.route.depth"

  def sideCol(side: String, k: Int): String = s"$SidePrefix${side}__$k"

  private[graft] def sideOf(c: String): Option[String] =
    if (!c.startsWith(SidePrefix)) None
    else {
      val rest = c.substring(SidePrefix.length)
      Some(rest.substring(0, rest.lastIndexOf("__")))
    }

  private[graft] def isRouting(c: String): Boolean = c == Keep || c.startsWith(SidePrefix)

  /** The data image's schema: `s` without its routing columns. */
  def dataSchema(s: StructType): StructType = StructType(s.filterNot(f => isRouting(f.name)))

  /** Each side a frame routes to, with the schema its files carry. */
  def sides(s: StructType): Seq[(String, StructType)] =
    s.fields.toSeq.flatMap(f => sideOf(f.name).map(_ -> f.dataType.asInstanceOf[StructType]))
      .distinctBy(_._1)

  /** `df` with side `from`'s images routed to side `to` instead. */
  def renameSide(df: DataFrame, from: String, to: String): DataFrame =
    df.withColumnsRenamed(df.columns.toSeq.collect {
      case c if sideOf(c).contains(from) =>
        c -> (SidePrefix + to + c.substring(SidePrefix.length + from.length))
    }.toMap)

  /** `routed` plus one row per row of `images` that carries only an
    * image for `side` (no data image) — a side whose rows come partly
    * from an independent lineage, written by the same execution. */
  def withSideRows(routed: DataFrame, side: String, images: DataFrame): DataFrame =
    routed.unionByName(
      images.select(struct(images.columns.toSeq.map(col): _*).as(sideCol(side, 0)),
        lit(false).as(Keep)),
      allowMissingColumns = true)

  /** Land `writer`'s frame at `path` through the routing format;
    * `partitionDepth` is the number of partition columns the writer
    * partitions by (the data files sit that many dirs below the task's
    * work dir, the side dirs directly in it). */
  def save(writer: DataFrameWriter[Row], path: String, partitionDepth: Int): Unit =
    writer.format(classOf[RoutedParquetFormat].getName)
      .option(DepthOption, partitionDepth.toString)
      .save(path)

  private[graft] def depthOf(options: Map[String, String]): Int =
    options.get(DepthOption).map(_.toInt).getOrElse(0)
}

/** The write side of [[RoutedWrite]]: parquet for the data image and
  * for each side, one pass over the rows. Write-only. */
class RoutedParquetFormat extends FileFormat {
  override def inferSchema(spark: SparkSession, options: Map[String, String],
      files: Seq[FileStatus]): Option[StructType] = None

  override def prepareWrite(spark: SparkSession, job: Job,
      options: Map[String, String], schema: StructType): OutputWriterFactory = {
    val data = RoutedWrite.dataSchema(schema)
    val inner = new ParquetFileFormat().prepareWrite(spark, job, options, data)
    val dataOrdinals = schema.fields.indices.filterNot(i =>
      RoutedWrite.isRouting(schema(i).name))
    val images = schema.fields.indices.flatMap(i =>
      RoutedWrite.sideOf(schema(i).name).map(s =>
        (s, i, schema(i).dataType.asInstanceOf[StructType].size)))
    new RoutedWriterFactory(inner, data, schema.fieldIndex(RoutedWrite.Keep),
      dataOrdinals, images,
      RoutedWrite.sides(schema),
      RoutedWrite.depthOf(options))
  }

  override def toString: String = "RoutedParquet"
}

private[graft] class RoutedWriterFactory(
    val inner: OutputWriterFactory,
    val data: StructType,
    val keep: Int,
    val dataOrdinals: Seq[Int],
    val images: Seq[(String, Int, Int)],
    val sideSchemas: Seq[(String, StructType)],
    val depth: Int) extends OutputWriterFactory {

  override def getFileExtension(context: TaskAttemptContext): String =
    inner.getFileExtension(context)

  override def newInstance(path: String, dataSchema: StructType,
      context: TaskAttemptContext): OutputWriter =
    new RoutedOutputWriter(path, context, this)
}

/** One task's writer: the data file opens on the first data image, each
  * side file on its first image, so a task whose rows carry no data
  * image writes no data file. The first task of an unpartitioned write
  * opens every sink even when empty, as Spark's own first task does for
  * an empty write: each sink then has a part file whose footer carries
  * its schema. */
private final class RoutedOutputWriter(
    dataPath: String, context: TaskAttemptContext, f: RoutedWriterFactory)
  extends OutputWriter {

  private val dataRow = ProjectingInternalRow(f.data, f.dataOrdinals)
  private var dataWriter: OutputWriter = null
  private val sideWriters = scala.collection.mutable.LinkedHashMap.empty[String, OutputWriter]

  // the task's work dir: the data file sits `depth` partition dirs below it
  private lazy val workDir =
    (0 to f.depth).foldLeft(new Path(dataPath))((p, _) => p.getParent)

  private def data(): OutputWriter = {
    if (dataWriter == null) dataWriter = f.inner.newInstance(dataPath, f.data, context)
    dataWriter
  }

  private def side(name: String): OutputWriter =
    sideWriters.getOrElseUpdate(name, {
      // the job's parquet settings with the side's own schema (a variant
      // shredding schema describes the data's columns, not the side's)
      val conf = new Configuration(context.getConfiguration)
      ParquetWriteSupport.setSchema(f.sideSchemas.find(_._1 == name).get._2, conf)
      conf.unset(ParquetWriteSupport.SPARK_VARIANT_SHREDDING_SCHEMA)
      val file = new Path(new Path(workDir, "_" + name),
        s"part-${java.util.UUID.randomUUID()}${f.getFileExtension(context)}")
      new ParquetOutputWriter(file.toString,
        new TaskAttemptContextImpl(conf, context.getTaskAttemptID))
    })

  override def write(row: InternalRow): Unit = {
    if (!row.isNullAt(f.keep) && row.getBoolean(f.keep)) {
      dataRow.project(row)
      data().write(dataRow)
    }
    f.images.foreach { case (name, ordinal, width) =>
      if (!row.isNullAt(ordinal)) side(name).write(row.getStruct(ordinal, width))
    }
  }

  override def close(): Unit = {
    if (f.depth == 0 && context.getTaskAttemptID.getTaskID.getId == 0) {
      data()
      f.sideSchemas.foreach { case (name, _) => side(name) }
    }
    try Option(dataWriter).foreach(_.close())
    finally sideWriters.values.foreach(_.close())
  }

  override def path(): String = dataPath
}
