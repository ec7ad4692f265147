package graft.ingest

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Encoder, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.encoderFor
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

/** Parquet on the driver, for data the driver already holds: a page
  * of listed items, the parked-failure set, the schema in a batch's
  * footers. A Spark write, scan or schema-inference pass over such
  * data costs a job (0.1–0.35 s each) that does no data work; these
  * three calls cost file I/O only.
  *
  *  - [[write]] lays down exactly the file a one-partition Spark write
  *    would: the same `ParquetFileFormat.prepareWrite` settings
  *    (timestamp type, legacy format, field ids, compression codec),
  *    the same `ParquetWriteSupport` fed by the encoder's serializer,
  *    so footer schema, row metadata and rows are a Spark write's.
  *  - [[read]] is its twin: Spark's own parquet reader over one file,
  *    rows decoded by the encoder's deserializer, so timestamps and
  *    nulls come back as `spark.read...as[T]` returns them.
  *  - [[schema]] is what `spark.read.option("mergeSchema", "true")`
  *    infers, read from the footers on the driver.
  */
object LocalParquet {

  /** Write `rows` as ONE parquet file `dir/name` (default: a fresh
    * `part-00000-<uuid>-c000.<codec>.parquet`, beside any parts
    * already there). Rows are consumed one at a time, so a caller
    * that produces them lazily holds one row at once (plus the
    * writer's buffered row group); no rows still write a valid file
    * that carries only the schema. The file is published with
    * [[AtomicFile.replaceWith]]: a reader never sees a partial file,
    * and on the local filesystem a fixed `name` is swapped in by one
    * rename, so a reader finds the old file or the new one. The
    * parquet bytes themselves still go through Hadoop, which writes
    * the file's `.crc`. Returns the file's path. */
  def write[T: Encoder](spark: SparkSession, dir: String, rows: Iterator[T],
      name: String = ""): Path = {
    val enc = encoderFor[T]
    val schema = enc.schema
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory =
      new ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    val ctx = new TaskAttemptContextImpl(job.getConfiguration,
      new TaskAttemptID("", 0, TaskType.MAP, 0, 0))
    val file = new Path(dir,
      if (name.nonEmpty) name
      else s"part-00000-${java.util.UUID.randomUUID()}-c000" +
        factory.getFileExtension(ctx))
    AtomicFile.replaceWith(job.getConfiguration, file) { tmp =>
      val out = factory.newInstance(tmp.toString, schema, ctx)
      try {
        val toRow = enc.createSerializer()
        rows.foreach(r => out.write(toRow(r)))
      } finally out.close()
    }
    file
  }

  /** The rows of the ONE parquet file `file`, read on the driver by
    * the reader a Spark scan runs in its tasks
    * (`ParquetFileFormat.buildReaderWithPartitionValues`, row mode,
    * the session's rebase and timestamp settings) over the encoder's
    * schema, made nullable as a file scan makes it, and decoded by the
    * encoder's resolved deserializer. */
  def read[T: Encoder](spark: SparkSession, file: String): Seq[T] = {
    val enc = encoderFor[T]
    val schema = nullable(enc.schema).asInstanceOf[StructType]
    val conf = spark.sessionState.newHadoopConf()
    val path = new Path(file)
    val st = path.getFileSystem(conf).getFileStatus(path)
    val reader = new ParquetFileFormat().buildReaderWithPartitionValues(
      spark, schema, new StructType(), schema, Nil,
      Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), conf)
    val fromRow = enc.resolveAndBind(DataTypeUtils.toAttributes(schema))
      .createDeserializer()
    // exhausting the iterator closes the file
    reader(PartitionedFile(InternalRow.empty, SparkPath.fromPath(st.getPath),
      0L, st.getLen, Array.empty[String], st.getModificationTime, st.getLen))
      .map(fromRow).toVector
  }

  /** The Spark schema of the parquet parts directly under `dirs`, read
    * from their footers: Spark's row-metadata key when the writer left
    * one, the parquet schema converted under the session's settings
    * otherwise. Parts merge in path order, new top-level fields
    * appended; a field whose type differs between parts fails loudly.
    * Every field is nullable, as a file scan reports it. Fails when
    * `dirs` hold no part at all (Spark cannot infer that either). */
  def schema(spark: SparkSession, dirs: Seq[String]): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val parts = dirs.flatMap { d =>
      val p = new Path(d)
      p.getFileSystem(conf).listStatus(p).toSeq.filter { st =>
        val n = st.getPath.getName
        st.isFile && !n.startsWith("_") && !n.startsWith(".")
      }
    }.sortBy(_.getPath.toString)
    require(parts.nonEmpty,
      s"no parquet parts to read a schema from under ${dirs.mkString(", ")}")
    val converter = new ParquetToSparkSchemaConverter(spark.sessionState.conf)
    parts.map { st =>
      val meta = ParquetFileReader.readFooter(
        HadoopInputFile.fromStatus(st, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      nullable(ParquetFileFormat.readSchemaFromFooter(
        new Footer(st.getPath, meta), converter)).asInstanceOf[StructType]
    }.reduce { (acc, next) =>
      val known = acc.fields.map(f => f.name -> f.dataType).toMap
      next.fields.foreach(f => known.get(f.name).foreach(t =>
        require(t == f.dataType, s"parquet parts under " +
          s"${dirs.mkString(", ")} disagree on ${f.name}: " +
          s"${t.simpleString} vs ${f.dataType.simpleString}")))
      StructType(acc.fields ++ next.fields.filterNot(f => known.contains(f.name)))
    }
  }

  /** `t` with every field, element and value nullable. */
  private def nullable(t: DataType): DataType = t match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = nullable(f.dataType), nullable = true)))
    case a: ArrayType => ArrayType(nullable(a.elementType), containsNull = true)
    case m: MapType =>
      MapType(nullable(m.keyType), nullable(m.valueType), valueContainsNull = true)
    case other => other
  }
}
