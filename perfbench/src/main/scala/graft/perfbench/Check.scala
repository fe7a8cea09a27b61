package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import graft.cnpj.Flagship

/** Verifies one exported `resultado_final.csv`: UTF-8 BOM first, the
  * 20-column header exactly once, every row with 20 fields, and the row
  * count plus the order-independent hash of the key column subset
  * ([[Gen.HashedCols]]) equal to what the generator derived from the rows
  * it wrote. Returns None when the export is right, else the reason. */
object Check {

  val Header: String = Flagship.outputCols.mkString(";")

  def export(f: File, want: Expected): Option[String] = {
    if (!f.isFile) return Some(s"no export at $f")
    val bytes = Files.readAllBytes(f.toPath)
    if (bytes.length < 3 || bytes(0) != 0xEF.toByte ||
        bytes(1) != 0xBB.toByte || bytes(2) != 0xBF.toByte)
      return Some("export does not start with the UTF-8 BOM")
    val text = new String(bytes, 3, bytes.length - 3, UTF_8)
    val lines = text.split("\n", -1)
    val body = lines.drop(1).filter(_.nonEmpty)
    if (lines(0) != Header)
      return Some(s"first line is not the header: ${lines(0).take(80)}")
    if (body.contains(Header))
      return Some("header appears more than once")
    var hash = 0L
    var i = 0
    while (i < body.length) {
      val fields = body(i).split(";", -1)
      if (fields.length != Flagship.outputCols.length)
        return Some(s"row ${i + 1} has ${fields.length} fields")
      hash += Gen.rowHash(Gen.HashedCols.map(c => unquote(fields(c))))
      i += 1
    }
    if (body.length != want.rows)
      Some(s"export has ${body.length} rows, expected ${want.rows}")
    else if (hash != want.hash)
      Some(f"key-column hash $hash%016x, expected ${want.hash}%016x")
    else None
  }

  private def unquote(s: String): String =
    if (s.length >= 2 && s.head == '"' && s.last == '"')
      s.substring(1, s.length - 1).replace("\"\"", "\"")
    else s
}
