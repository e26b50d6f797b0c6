package graft.sources

import graft.SparkSpec
import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Reads workbooks shaped like the reference repo's test workbooks
  * ([[XlsxFixtures]]: hand-written OOXML parts) through the
  * dependency-free OOXML reader, and round-trips the writer. */
class XlsxSpec extends SparkSpec {
  import spark.implicits._

  private val refDir = XlsxFixtures.dir.toString

  test("parseSheet reads the reference's bases_norte.xlsx exactly") {
    val bytes = Files.readAllBytes(
      java.nio.file.Paths.get(s"$refDir/bases_norte.xlsx"))
    val rows = Xlsx.parseSheet(bytes)
    assert(rows == Vector(
      Vector("documento", "ips"),
      Vector("1", "X HOSPITAL SUBA ESE")))
  }

  test("distributed read + promoteHeader over the wide reference sheets") {
    val tot = BatchLoad.promoteHeader(
      Xlsx.read(spark, Seq(s"$refDir/facturacion_total.xlsx")))
    assert(tot.columns.length == 43)
    assert(tot.columns.take(4).toSeq ==
      Seq("CENTRO", "FACTURA", "FECHA_FACT", "TIPO_FACTURA"))
    val r = tot.select("CENTRO", "FACTURA", "FECHA_FACT").as[(String, String, String)]
      .collect()
    assert(r.length == 1)
    assert(r(0)._1 == "HOSPITAL SUBA CENTRO DE SERVICIOS ESPECIALIZADO")
    assert(r(0)._2 == "SN0000000001")
    // date serial survives as numeric text; the serial→timestamp helper
    // lands on the pandas-visible date (2024-09-20 ≈ serial 45555.36)
    val d = tot.select(Xlsx.serialToTimestamp(col("FECHA_FACT"))
      .cast("date").cast("string")).as[String].collect()
    assert(d.head == "2024-09-20")

    val rips = BatchLoad.promoteHeader(
      Xlsx.read(spark, Seq(s"$refDir/facturacion_rips.xlsx")))
    assert(rips.columns.length == 60)
    assert(rips.columns.take(2).toSeq == Seq("TipoDocumento", "NumeroFactura"))
    assert(rips.count() == 1)
  }

  test("loadLatestXlsx: latestBatch → promoteHeader → appendIncremental") {
    val dir = Files.createTempDirectory("xlsxbatch")
    // stage the lookup workbook under batch-dated names: two
    // files in the newest batch (dup rows dedup), one stale file
    def stage(name: String): String = {
      val t = dir.resolve(name)
      Files.copy(java.nio.file.Paths.get(s"$refDir/bases_norte.xlsx"), t)
      t.toString
    }
    val paths = Seq(stage("produccion_20240901_a.xlsx"),
      stage("produccion_20240901_b.xlsx"),
      stage("produccion_20230101_old.xlsx"))
    val got = BatchLoad.loadLatestXlsx(spark, paths).get
    assert(got.columns.toSeq == Seq("documento", "ips"))
    // identical rows across the two latest files dedup to one
    assert(got.as[(String, String)].collect().toSeq ==
      Seq(("1", "X HOSPITAL SUBA ESE")))
  }

  test("corrupt workbooks fail loudly, never as silently-empty frames") {
    // ingestion fail-stop contract: a torn download or half-written
    // batch file must throw at read, not feed zero rows downstream
    // (an empty frame would ripple through latest-batch selection
    // as "no data this month" — silent data loss). Mutations cover
    // garbage, truncation, and a valid ZIP missing the sheet.
    val good = Files.readAllBytes(java.nio.file.Paths.get(
      refDir, "bases_norte.xlsx"))
    val rnd = new scala.util.Random(7)
    val garbage = new Array[Byte](4096); rnd.nextBytes(garbage)
    val truncated = good.take(good.length / 3)
    val zipNoSheet = {
      val bos = new java.io.ByteArrayOutputStream()
      val z = new java.util.zip.ZipOutputStream(bos)
      z.putNextEntry(new java.util.zip.ZipEntry("unrelated.txt"))
      z.write("not a workbook".getBytes("UTF-8")); z.closeEntry(); z.close()
      bos.toByteArray
    }
    Seq("garbage" -> garbage, "truncated" -> truncated,
        "zip-no-sheet" -> zipNoSheet).foreach { case (label, bytes) =>
      val thrown = try { Xlsx.parseSheet(bytes); false }
      catch { case _: Throwable => true }
      assert(thrown, s"$label: corrupt workbook parsed without error")
    }
  }

  test("write → read round-trip preserves values, types as text, escapes") {
    val df = Seq(
      ("a & <b>", 1L, 1.5, "x\"quote\""),
      ("ünïcode ñ", -2L, 0.25, "tab\tkeep")
    ).toDF("s", "n", "d", "t")
    val path = Files.createTempDirectory("xlsxw").resolve("out.xlsx").toString
    Xlsx.write(df, path)
    val back = BatchLoad.promoteHeader(Xlsx.read(spark, Seq(path)))
    assert(back.columns.toSeq == Seq("s", "n", "d", "t"))
    val rows = back.as[(String, String, String, String)].collect().toSet
    assert(rows == Set(
      ("a & <b>", "1", "1.5", "x\"quote\""),
      ("ünïcode ñ", "-2", "0.25", "tab\tkeep")))
  }

  test("sheetWidth (the count-only schema pass) agrees with the full parse on every workbook") {
    // the width job must never disagree with the row job it sizes —
    // checked on the hand-written workbooks AND a writer output
    val real = Seq("bases_norte.xlsx", "facturacion_total.xlsx",
      "facturacion_rips.xlsx").map(n => s"$refDir/$n")
    val written = {
      val df = Seq(("a", 1L), ("b", 2L)).toDF("x", "y")
      val path = Files.createTempDirectory("xlsxw2")
        .resolve("w.xlsx").toString
      Xlsx.write(df, path)
      Seq(path)
    }
    (real ++ written).foreach { p =>
      val bytes = Files.readAllBytes(java.nio.file.Paths.get(p))
      val full = Xlsx.parseSheet(bytes)
        .foldLeft(0)((m, r) => math.max(m, r.length))
      assert(Xlsx.sheetWidth(bytes) == full,
        s"width drift on $p: ${Xlsx.sheetWidth(bytes)} vs $full")
    }
  }
}
