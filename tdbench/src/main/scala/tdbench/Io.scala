package tdbench

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.example.data.Group
import org.apache.parquet.hadoop.ParquetReader
import org.apache.parquet.hadoop.example.GroupReadSupport
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName

/** Blocking HTTP/1.1 client for the store API on localhost. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder().version(HttpClient.Version.HTTP_1_1).build()

  private def send(req: HttpRequest.Builder, path: String): (Int, Array[Byte]) = {
    val r = client.send(req.uri(URI.create(s"http://127.0.0.1:$port$path")).build(),
      HttpResponse.BodyHandlers.ofByteArray())
    (r.statusCode(), r.body())
  }

  def get(path: String): (Int, Array[Byte]) = send(HttpRequest.newBuilder().GET(), path)
  def post(path: String): (Int, Array[Byte]) =
    send(HttpRequest.newBuilder().POST(HttpRequest.BodyPublishers.noBody()), path)
}

/** Reads parquet files without Spark, so checks cost no Spark jobs. */
object ParquetRows {
  private val conf = new Configuration()

  /** Rows of one parquet file (or every part file of a directory), as the
    * named columns' values; a null cell is `null`. */
  def read(path: Path, cols: Seq[String]): Seq[Seq[Any]] = {
    val files =
      if (Files.isDirectory(path)) Using.resource(Files.list(path))(_.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".parquet")).toVector.sorted)
      else Vector(path)
    files.flatMap { f =>
      val reader = ParquetReader.builder(new GroupReadSupport(),
        new org.apache.hadoop.fs.Path(f.toUri)).withConf(conf).build()
      try Iterator.continually(reader.read()).takeWhile(_ != null).map(g => cols.map(value(g, _))).toVector
      finally reader.close()
    }
  }

  /** Rows of a parquet payload held in memory (written to `scratch`). */
  def readBytes(bytes: Array[Byte], scratch: Path, cols: Seq[String]): Seq[Seq[Any]] = {
    Files.write(scratch, bytes)
    try read(scratch, cols) finally Files.deleteIfExists(scratch)
  }

  private def value(g: Group, col: String): Any = {
    val i = g.getType.getFieldIndex(col)
    if (g.getFieldRepetitionCount(i) == 0) null
    else g.getType.getType(i).asPrimitiveType.getPrimitiveTypeName match {
      case PrimitiveTypeName.INT64 => g.getLong(i, 0)
      case PrimitiveTypeName.INT32 => g.getInteger(i, 0)
      case PrimitiveTypeName.DOUBLE => g.getDouble(i, 0)
      case PrimitiveTypeName.BOOLEAN => g.getBoolean(i, 0)
      case _ => g.getString(i, 0)
    }
  }
}

object FileSizes {
  /** Bytes of every regular file under `dir`. */
  def under(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else Using.resource(Files.walk(dir))(_.iterator().asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum)

  /** Data files (not hidden, not Spark markers) directly or nested in `dir`. */
  def dataFiles(dir: Path): Int =
    if (!Files.exists(dir)) 0
    else Using.resource(Files.walk(dir))(_.iterator().asScala.count { p =>
      val n = p.getFileName.toString
      Files.isRegularFile(p) && !n.startsWith(".") && !n.startsWith("_")
    })

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) Using.resource(Files.walk(dir))(
      _.sorted(java.util.Comparator.reverseOrder()).forEach(p => Files.deleteIfExists(p)))
}

object Json {
  val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
}

/** Store-wide space figures, from the public API only. */
object StoreStats {
  /** Bytes of the data directories of every visible version, divided by
    * their rows (each directory counted once). */
  def bytesPerRow(store: graft.store.TableStore): Double = {
    val dirs = for {
      c <- store.listCollections()
      t <- store.listTables(c)
      v <- store.versions(c, t)
    } yield (store.pathOf(c, t, v), v.rows)
    val distinct = dirs.toMap
    val rows = distinct.values.sum
    if (rows == 0) 0.0 else distinct.keys.map(p => FileSizes.under(Path.of(p))).sum.toDouble / rows
  }
}
