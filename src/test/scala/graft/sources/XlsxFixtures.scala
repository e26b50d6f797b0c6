package graft.sources

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The xlsx workbooks the reader specs use, zipped from hand-written
  * OOXML parts under `src/test/resources/xlsx/<book>/` (read from the
  * source tree: the packaging part `_rels/.rels` is a dot-file, which
  * the build leaves out of the test classpath). The parts are written
  * by hand, never by [[Xlsx.write]], so reading them is an
  * independent check of the reader. Books: `bases_norte` (2 columns,
  * shared strings, a numeric cell), `facturacion_total` (43 columns,
  * shared strings, a date serial, empty cells) and `facturacion_rips`
  * (60 columns, inline strings). */
object XlsxFixtures {
  private val partsRoot = Paths.get("src/test/resources/xlsx")

  /** The zipped workbook `book`: `[Content_Types].xml` first, then
    * every other part in path order. */
  def bytes(book: String): Array[Byte] = {
    val dir = partsRoot.resolve(book)
    require(Files.isDirectory(dir), s"no xlsx fixture parts at $dir")
    val walk = Files.walk(dir)
    val parts = try walk.iterator().asScala.filter(Files.isRegularFile(_))
      .map(p => dir.relativize(p).toString.replace('\\', '/')).toVector
    finally walk.close()
    val bos = new java.io.ByteArrayOutputStream()
    val zip = new java.util.zip.ZipOutputStream(bos)
    parts.sortBy(p => (p != "[Content_Types].xml", p)).foreach { p =>
      zip.putNextEntry(new java.util.zip.ZipEntry(p))
      zip.write(Files.readAllBytes(dir.resolve(p)))
      zip.closeEntry()
    }
    zip.close()
    bos.toByteArray
  }

  /** A directory holding every book as `<book>.xlsx`, written once
    * per JVM. */
  lazy val dir: Path = {
    val d = Files.createTempDirectory("graft_xlsx")
    Seq("bases_norte", "facturacion_total", "facturacion_rips")
      .foreach(b => Files.write(d.resolve(s"$b.xlsx"), bytes(b)))
    d
  }
}
