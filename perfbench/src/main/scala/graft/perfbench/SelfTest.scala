package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.cnpj._
import graft.ops.Layout

/** The benchmark's own test: the same seed writes the same files; on a
  * small drop, a correct export passes [[Check]], and each way of
  * corrupting it — BOM missing, a row dropped, a row duplicated, one key
  * field changed, the header repeated — is caught. One monthly upsert
  * cycle must match the generator's post-delta expectation and not the
  * pre-delta one. */
object SelfTest {

  def run(dir: File): Boolean = {
    Main.deleteRecursively(dir)
    dir.mkdirs()
    val spark = Main.session(dir)
    try {
      val raw = new File(dir, "raw")
      val wh = new File(dir, "warehouse").getPath
      val shards = new File(dir, "export-shards").getPath
      val out = new File(dir, "resultado_final.csv")
      val gen = new Gen(7L, 20000, raw)
      gen.writeRaw()
      val want0 = gen.expected()
      val again = new File(dir, "raw-again")
      new Gen(7L, 20000, again).writeRaw()
      val sameSeed = "the same seed writes the same files" ->
        sameBytes(raw, again)
      Pipeline.buildWarehouse(spark, raw.getPath, wh)
      def exportOf(df: org.apache.spark.sql.DataFrame): Unit =
        Export.writeCsvUtf8SigSingle(
          PandasCompat(df).orderBy("cnpj_basico", "nome_fantasia"),
          shards, out)
      exportOf(Pipeline.flagship(spark, wh))

      val good = Files.readAllBytes(out.toPath)
      val text = new String(good, 3, good.length - 3, UTF_8)
      val lines = text.split("\n").toSeq
      def asBytes(ls: Seq[String]) =
        Array[Byte](0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++
          ls.mkString("", "\n", "\n").getBytes(UTF_8)
      val firstRow = lines(1)
      val changed = (if (firstRow.head == '9') "8" else "9") + firstRow.tail
      val corruptions: Seq[(String, Array[Byte])] = Seq(
        "BOM missing" -> good.drop(3),
        "row dropped" -> asBytes(lines.dropRight(1)),
        "row duplicated" -> asBytes(lines :+ lines.last),
        "key field changed" -> asBytes(lines.updated(1, changed)),
        "header repeated" -> asBytes(lines :+ lines.head))
      val bad = new File(dir, "corrupt.csv")
      val results = Seq(sameSeed, "correct export passes" ->
        Check.export(out, want0).isEmpty) ++
        corruptions.map { case (name, bytes) =>
          Files.write(bad.toPath, bytes)
          s"$name is caught" -> Check.export(bad, want0).isDefined
        }

      val table = new File(dir, "estab-table").getPath
      Layout.commitSnapshot(spark, table,
        Layout.zArranged(Warehouse.readTable(spark, s"$wh/estabelecimentos"),
          "id_municipio", "id_cnae", files = 8, buckets = 64),
        statsColumns = Seq("id_municipio", "id_cnae"),
        props = Map(Layout.RowLevelModeProp -> "mor"))
      val delta = new File(dir, "delta-1")
      gen.writeDelta(1, delta)
      val want1 = gen.expected()
      Layout.upsertByKeys(spark, table,
        Warehouse.typedEstabelecimentos(Ingest.readRawCsv(spark,
          delta.getPath, Schemas.estabelecimentosRaw)),
        Seq("cnpj_basico", "cnpj_ordem", "cnpj_dv"), deleteOnly = false)
      def t(n: String) =
        Warehouse.readTableWithStats(spark, s"cnpj_$n", s"$wh/$n")
      exportOf(Flagship.query(
        Layout.readSnapshotWhere(spark, table, Seq(
          Layout.SkipIn("id_municipio", Flagship.municipios.map(_.toLong)),
          Layout.SkipIn("id_cnae", Flagship.cnaes))),
        t("cnae"), t("empresas"), t("municipios"),
        t("motivo_situacao_cadastral")))
      val upsert = Seq(
        "upserted snapshot matches the delta" ->
          Check.export(out, want1).isEmpty,
        "upserted snapshot differs from the pre-delta rows" ->
          Check.export(out, want0).isDefined)

      val all = results ++ upsert
      all.foreach { case (name, ok) =>
        println(s"${if (ok) "PASS" else "FAIL"}  $name") }
      println(s"export rows ${want0.rows}, after delta ${want1.rows}")
      all.forall(_._2)
    } finally {
      spark.stop()
      Main.deleteRecursively(dir)
    }
  }

  private def sameBytes(a: File, b: File): Boolean =
    if (a.isDirectory)
      b.isDirectory && a.list().sorted.sameElements(b.list().sorted) &&
        a.list().forall(n => sameBytes(new File(a, n), new File(b, n)))
    else java.util.Arrays.equals(Files.readAllBytes(a.toPath),
      Files.readAllBytes(b.toPath))
}
