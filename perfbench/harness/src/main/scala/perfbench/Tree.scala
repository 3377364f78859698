package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile

/** Output-tree helpers built on java.nio, independent of the engine's
  * own Hadoop-FileSystem code paths, so they can check what it reports. */
object Tree {

  /** A data file as `Loader.storageStats` counts it. */
  def isDataFile(p: Path): Boolean = {
    val n = p.getFileName.toString
    n.endsWith(".parquet") && !n.startsWith("_") && !n.startsWith(".")
  }

  def walk(root: Path): Seq[Path] =
    if (!Files.exists(root)) Nil
    else {
      val s = Files.walk(root)
      try s.iterator.asScala.filter(Files.isRegularFile(_)).toVector
      finally s.close()
    }

  def dataFiles(root: Path): Seq[Path] = walk(root).filter(isDataFile)

  final case class Stats(files: Long, bytes: Long, partitions: Long)

  def stats(root: Path): Stats = {
    val fs = dataFiles(root)
    Stats(fs.size.toLong, fs.map(Files.size).sum,
      fs.map(_.getParent).distinct.size.toLong)
  }

  private val hadoopConf = new Configuration()

  /** Footer row counts already read, by (path, size, mtime): a file the
    * op left untouched is not opened again. */
  private val footerCache =
    new java.util.concurrent.ConcurrentHashMap[(String, Long, Long), java.lang.Long]()

  def footerRows(file: Path): Long = {
    val key = (file.toString, Files.size(file), Files.getLastModifiedTime(file).toMillis)
    footerCache.computeIfAbsent(key, _ => {
      val in = HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file.toUri), hadoopConf)
      val r = ParquetFileReader.open(in)
      try java.lang.Long.valueOf(r.getRecordCount) finally r.close()
    })
  }

  /** Footer row count per partition directory, relative to `root`. */
  def rowsByPartition(root: Path): Map[String, Long] =
    dataFiles(root).groupBy(p => root.relativize(p.getParent).toString)
      .map { case (d, fs) => d -> fs.map(footerRows).sum }

  def deleteRecursively(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator.asScala.toVector.reverse.foreach(Files.delete)
      finally s.close()
    }

  def copyRecursively(src: Path, dst: Path): Unit = {
    val s = Files.walk(src)
    try s.iterator.asScala.foreach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.REPLACE_EXISTING,
        StandardCopyOption.COPY_ATTRIBUTES)
    } finally s.close()
  }

  def readJson(p: Path): com.fasterxml.jackson.databind.JsonNode =
    new com.fasterxml.jackson.databind.ObjectMapper().readTree(p.toFile)

  def path(s: String): Path = Paths.get(s).toAbsolutePath.normalize
}
