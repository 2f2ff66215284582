package graft

import org.apache.spark.sql.SparkSession

object TestSpark {
  /** Spec scratch dirs go on tmpfs when available: a just-written
    * parquet re-read from /tmp occasionally threw ChecksumException
    * under parallel suites (disk-cache flakiness); /dev/shm sidesteps
    * it and matches graft.Bench's scratch policy.
    */
  def scratchPath(prefix: String): java.nio.file.Path = {
    val base = Seq("/dev/shm", sys.props("java.io.tmpdir"))
      .find(p => new java.io.File(p).canWrite)
      .getOrElse(sys.props("java.io.tmpdir"))
    java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get(base), prefix)
  }

  def scratchDir(prefix: String): String = scratchPath(prefix).toString

  lazy val spark: SparkSession = {
    val s = SessionTuning.scaleAdaptive(SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", scratchDir("graft_wh"))
      .config("spark.ui.enabled", "false"))
      .getOrCreate()
    // Kill the CRC-sidecar race: Hadoop caches ONE LocalFileSystem
    // instance per scheme, and Spark's streaming checkpoint managers
    // toggle checksum flags on that shared instance mid-run — a
    // parquet written by a parallel suite while the flags flip could
    // get a stale/partial .crc and fail its read-back (reproduced on
    // tmpfs, so never disk flakiness). Disabling sidecars once, up
    // front, removes that shared state. (Per-instance FS via
    // fs.file.impl.disable.cache reintroduces default-on checksums and
    // made it worse; RawLocalFileSystem breaks RocksDB state-store
    // commits — both measured before settling here.)
    val fs = org.apache.hadoop.fs.FileSystem
      .getLocal(s.sparkContext.hadoopConfiguration)
    fs.setWriteChecksum(false)
    fs.setVerifyChecksum(false)
    s
  }

  def fixture(name: String): String =
    getClass.getResource(s"/fixtures/$name").getPath
}
