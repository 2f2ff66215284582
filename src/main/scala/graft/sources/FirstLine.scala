package graft.sources

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.hadoop.io.compress.CompressionCodecFactory
import org.apache.spark.sql.SparkSession

/** First line of a text file, read on the driver through the path's
  * Hadoop `FileSystem` — for header and pragma checks that need one
  * line before the distributed scan is planned. A Spark
  * `textFile(path).limit(1).collect()` launches a job per call; this
  * opens one stream. Compressed inputs (`.gz`, `.bz2`, … by suffix)
  * decompress transparently through `CompressionCodecFactory`, as in
  * Spark's text source. `None` for an empty file.
  */
object FirstLine {

  def apply(spark: SparkSession, path: String): Option[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val raw = p.getFileSystem(conf).open(p)
    val in = Option(new CompressionCodecFactory(conf).getCodec(p))
      .map(_.createInputStream(raw)).getOrElse(raw)
    val reader = new BufferedReader(new InputStreamReader(in, StandardCharsets.UTF_8))
    try Option(reader.readLine())
    finally reader.close()
  }
}
