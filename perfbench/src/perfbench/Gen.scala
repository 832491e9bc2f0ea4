package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Helpers shared by the workload generators and checks. */
object Gen {

  /** Name of the file beside a parquet directory's parts that holds the
    * digest of the rows written there.
    */
  val RowsDigest = ".rows-sha256"

  /** Writes rows as parquet in a fixed number of slices, plus the digest of
    * the rows. Parquet bytes are not comparable across JVMs (parquet-mr
    * writes each column's encoding set in hash order), so input digests
    * cover parquet data through its rows.
    */
  def parquet(spark: SparkSession, dir: Path, schema: StructType, rows: Seq[Row], slices: Int): Unit = {
    spark.createDataFrame(spark.sparkContext.parallelize(rows, slices), schema)
      .write.parquet(dir.toString)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    def feed(v: Any): Unit = v match {
      case b: Array[Byte] => md.update(b)
      case s: Seq[_]      => s.foreach(feed)
      case x              => md.update(String.valueOf(x).getBytes("UTF-8"))
    }
    rows.foreach { r => r.toSeq.foreach { v => feed(v); md.update(0.toByte) }; md.update(1.toByte) }
    Files.write(dir.resolve(RowsDigest), md.digest())
  }

  private def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else Files.walk(p).iterator().asScala.filter(Files.isRegularFile(_)).toSeq

  private def isData(p: Path): Boolean = {
    val n = p.getFileName.toString
    !n.startsWith(".") && !n.startsWith("_")
  }

  def sizeOf(p: Path): Long = files(p).filter(isData).map(Files.size).sum

  def dataFiles(p: Path): Int = files(p).count(isData)

  /** The ids in one column of a table, empty if it cannot be read. */
  def ids(spark: SparkSession, table: String, idCol: String): Set[Long] =
    attempt(spark.table(table).select(idCol).collect().map(_.getLong(0)).toSet).getOrElse(Set.empty)

  def attempt[A](a: => A): Option[A] =
    try Some(a)
    catch { case NonFatal(e) => println(s"perfbench check error: $e".take(500)); None }

  /** Cosine similarity in double precision. */
  def cosine(a: Array[Float], b: Array[Float]): Double = {
    var dot, na, nb = 0.0
    var i = 0
    while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
    dot / math.sqrt(na * nb)
  }
}
