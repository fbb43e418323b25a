package graftbench

import java.io.File
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.schema.{MessageType, MessageTypeParser}
import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.cep.{Compiler, Ev, Pattern}
import graft.io.Transcripts

/** Generated corpora, cached on disk under the work directory and keyed by generator
  * version, seed, size, hot share and file layout. A corpus is generated in a JVM of its
  * own (`Main prepare`), so generation is never timed and never warms the measured JVM.
  * It is written without Spark: in a cold JVM on a 4-core host a session alone takes
  * ~8 s, more than generating and writing the ~100 000 rows. */
object Corpus {
  def dir(workDir: String, kind: String, seed: Long, convs: Int, hotShare: Double,
          layout: String): String =
    s"$workDir/corpus/$kind-${Transcripts.GenVersion}-s$seed-c$convs-h$hotShare-$layout"

  /** Unless `path` exists, writes `write(tmp)` and publishes it by an atomic rename. */
  def ensure(path: String)(write: String => Unit): Unit = {
    val target = new File(path)
    if (!target.exists()) {
      val tmp = new File(path + ".tmp")
      deleteRecursively(tmp)
      write(tmp.getPath)
      if (!tmp.renameTo(target)) sys.error(s"cannot publish corpus $path")
    }
  }

  /** `path`, which the prepare step must have written. */
  def existing(path: String): String = {
    if (!new File(path).isDirectory) sys.error(s"corpus $path is missing; run prepare first")
    path
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
  }

  /** The generator's turns for conversations 0 until `convs`, in that order, cut into
    * `files` parquet files of equal row count. */
  def writeTurns(path: String, seed: Long, convs: Int, hotShare: Double, files: Int): Unit = {
    val turns = (0 until convs).flatMap(c => Transcripts.genConv(c, seed, convs, hotShare))
    val perFile = (turns.length + files - 1) / files
    turns.grouped(perFile).zipWithIndex.foreach { case (rows, i) =>
      ParquetFiles.write(f"$path/part-$i%05d.parquet", ParquetFiles.TurnSchema, rows) { (g, t) =>
        g.append("conv_id", t.conv_id).append("turn_idx", t.turn_idx).append("role", t.role)
          .append("text", t.text)
        if (t.tool != null) g.append("tool", t.tool)
        val at = t.ts.toInstant
        g.append("ts", at.getEpochSecond * 1000000L + at.getNano / 1000)
      }
    }
  }

  def readTurns(spark: SparkSession, path: String): Dataset[Transcripts.Turn] = {
    import spark.implicits._
    spark.read.parquet(path).as[Transcripts.Turn]
  }

  /** Drops the string payload, as the scaling runs do: the patterns read only etype, ts,
    * idx and num. */
  def prune(evs: Dataset[Ev]): Dataset[Ev] = {
    import evs.sparkSession.implicits._
    evs.withColumn("s1", lit(null).cast("string"))
      .withColumn("s2", lit(null).cast("string")).as[Ev]
  }

  def relevantTypes(patterns: Seq[Pattern]): Seq[String] =
    patterns.flatMap(Compiler.compile).flatMap(_.relevantTypes).distinct

  def relevant(evs: Dataset[Ev], patterns: Seq[Pattern]): Dataset[Ev] =
    evs.filter(col("etype").isin(relevantTypes(patterns): _*))
}

/** Parquet files written row by row through parquet-hadoop, with the schemas Spark reads
  * as `Transcripts.Turn` and as `Ev`. */
object ParquetFiles {
  val TurnSchema: MessageType = MessageTypeParser.parseMessageType(
    """message turn {
      |  optional binary conv_id (STRING);
      |  required int32 turn_idx;
      |  optional binary role (STRING);
      |  optional binary text (STRING);
      |  optional binary tool (STRING);
      |  optional int64 ts (TIMESTAMP(MICROS,true));
      |}""".stripMargin)

  val EvSchema: MessageType = MessageTypeParser.parseMessageType(
    """message ev {
      |  optional binary key (STRING);
      |  required int64 idx;
      |  optional binary etype (STRING);
      |  required int64 ts;
      |  required double num;
      |  optional binary s1 (STRING);
      |  optional binary s2 (STRING);
      |  required double prob;
      |}""".stripMargin)

  private val conf = {
    val c = new Configuration()
    c.set("fs.file.impl", classOf[LocalFs].getName)
    c.setBoolean("fs.file.impl.disable.cache", true)
    c
  }

  def write[A](file: String, schema: MessageType, rows: Iterable[A])(fill: (Group, A) => Unit): Unit = {
    val groups = new SimpleGroupFactory(schema)
    val w = ExampleParquetWriter.builder(new Path(new File(file).getAbsolutePath))
      .withConf(conf).withType(schema).withCompressionCodec(CompressionCodecName.SNAPPY).build()
    try rows.foreach { r =>
      val g = groups.newGroup()
      fill(g, r)
      w.write(g)
    } finally w.close()
  }
}
