package perfbench

import java.nio.file.{Files, Path}
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.MessageTypeParser
import graft.kg.CodeFile

/** Writes a corpus table in the `TableIO.corpusSchema` layout with the
  * plain parquet writer, so generating a corpus needs no SparkSession.
  */
object Parquet {
  private val schema = MessageTypeParser.parseMessageType(
    """message spark_schema {
      |  required binary repo (UTF8);
      |  required binary path (UTF8);
      |  required binary commit (UTF8);
      |  required binary lang (UTF8);
      |  required binary content (UTF8);
      |}""".stripMargin)

  /** `rows` in order, split evenly over `nFiles` snappy-compressed files. */
  def writeCorpus(rows: Seq[CodeFile], dir: Path, nFiles: Int): Unit = {
    Files.createDirectories(dir)
    val groups = new SimpleGroupFactory(schema)
    val perFile = math.max(1, math.ceil(rows.size.toDouble / nFiles).toInt)
    rows.grouped(perFile).zipWithIndex.foreach { case (chunk, i) =>
      val w = ExampleParquetWriter.builder(new LocalOutputFile(dir.resolve(f"part-$i%05d.parquet")))
        .withType(schema).withCompressionCodec(CompressionCodecName.SNAPPY).build()
      try chunk.foreach { f =>
        w.write(groups.newGroup().append("repo", f.repo).append("path", f.path)
          .append("commit", f.commit).append("lang", f.lang).append("content", f.content))
      } finally w.close()
    }
  }
}
