package graft.perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets.ISO_8859_1
import java.util.SplittableRandom

import scala.collection.mutable

import graft.cnpj.Flagship

/** Seeded generator of Receita-dialect raw CNPJ files: headerless,
  * `;`-separated, every field double-quoted, latin-1, with the
  * `.EMPRECSV` / `.ESTABELE` suffixes and four shards per fact table.
  *
  * Codes come from realistic domain sizes with skew: about 5,570
  * municípios, 1,350 CNAE subclasses and the five cadastral situations,
  * with the reference's three municípios and 50 CNAEs holding a share
  * that makes about 1.3% of estabelecimentos pass the flagship filter
  * (the reference's 12,749 rows out of about a million). About 77% of
  * estabelecimentos are the matriz of their own empresa; the rest are
  * filiais of a skewed set of empresas, plus a few orphans whose empresa
  * is absent (the inner join drops them). The full CNPJ (basico, ordem,
  * check digits) is unique.
  *
  * Text carries the dialect's hazards: non-ASCII names, `numero` and
  * `ddd` mixing digits with `S/N` and empty cells, comma-decimal
  * `capital_social`, right-padded município names.
  *
  * The generator keeps the per-row codes in memory and derives the
  * expected flagship export from them ([[expected]]), so the program
  * under test receives only the files. [[writeDelta]] writes one monthly
  * delta (about 1% of rows changed plus a few new filiais) and advances
  * the expected state. */
final class Gen(seed: Long, estabRows: Int, root: File) {
  import Gen._

  val empresas: Int = (estabRows * 0.77).toInt
  private val orphans = math.max(1, estabRows / 500)
  private val shards = 4

  private def rng(stream: Long, i: Long): SplittableRandom =
    new SplittableRandom(mix(seed * 0x9E3779B97F4A7C15L + stream, i))

  // ---- dimensions -------------------------------------------------------

  private val flagshipCnaes: Array[Long] = Flagship.cnaes.distinct.toArray
  private val otherCnaes: Array[Long] = {
    val r = rng(1, 0)
    val s = mutable.LinkedHashSet.empty[Long]
    val taken = flagshipCnaes.toSet
    while (s.size < 1300) {
      val c = 111301L + r.nextLong(9900800L - 111301L)
      if (!taken(c)) s += c
    }
    s.toArray
  }
  private val flagshipMuns: Array[Int] = Flagship.municipios.toArray
  private val otherMuns: Array[Int] = {
    val r = rng(2, 0)
    val all = (1 to 9999).filterNot(flagshipMuns.contains).toArray
    for (i <- all.indices.reverse) {
      val j = r.nextInt(i + 1); val t = all(i); all(i) = all(j); all(j) = t
    }
    all.take(5567)
  }
  private val cnaeZipf = new Zipf(otherCnaes.length, 1.05)
  private val flagCnaeZipf = new Zipf(flagshipCnaes.length, 0.8)
  private val munZipf = new Zipf(otherMuns.length, 1.1)

  private def drawMun(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    if (u < 0.05) flagshipMuns(0) else if (u < 0.08) flagshipMuns(1)
    else if (u < 0.10) flagshipMuns(2)
    else otherMuns(munZipf.sample(r))
  }
  private def drawCnae(r: SplittableRandom): Long =
    if (r.nextDouble() < 0.14) flagshipCnaes(flagCnaeZipf.sample(r))
    else otherCnaes(cnaeZipf.sample(r))
  private def drawSit(r: SplittableRandom): Int = {
    val u = r.nextDouble()
    if (u < 0.55) 2 else if (u < 0.88) 8 else if (u < 0.90) 3
    else if (u < 0.98) 4 else 1
  }

  def cnaeDesc(c: Long): String = {
    val r = rng(3, c)
    s"${pick(r, actividades)} ${pick(r, objetos)} ${c % 1000}"
  }
  /** Right-padded to the fixed width of the Receita file. */
  def munName(m: Int): String = {
    val r = rng(4, m)
    val base = s"${pick(r, lugares)} ${pick(r, sufixosLugar)}"
      .take(MunWidth)
    base + " " * (MunWidth - base.length)
  }
  def sitDesc(s: Int): String = situacoes(s)

  // ---- empresas ---------------------------------------------------------

  /** cnpj_basico of empresa index `i` (orphans continue past the last
    * empresa): an injective scramble, so basicos look random. */
  def basico(i: Int): Long = (i.toLong * 48271L + 1234567L) % 100000000L

  def razaoSocial(i: Int): String = {
    val r = rng(5, i)
    s"${pick(r, actividades)} ${pick(r, lugares)} ${pick(r, formas)}"
  }
  /** Comma-decimal, always two decimals, e.g. `195400,00`. */
  def capitalSocial(i: Int): String = {
    val r = rng(6, i)
    val cents = (math.exp(r.nextDouble() * 18.0)).toLong * 100 +
      (if (r.nextInt(3) == 0) r.nextInt(100) else 0)
    f"${cents / 100}%d,${cents % 100}%02d"
  }

  // ---- estabelecimentos: per-row state ----------------------------------

  private var n = estabRows
  private var cap = estabRows + estabRows / 50 + 64
  private var empOf = new Array[Int](cap)   // empresa index
  private var ordem = new Array[Int](cap)
  private var mun = new Array[Int](cap)
  private var cnae = new Array[Long](cap)
  private var sit = new Array[Int](cap)
  private var ver = new Array[Int](cap)     // version of the row's text
  private val nextOrdem = new Array[Int](empresas + orphans)

  locally {
    val r = rng(7, 0)
    val filialZipf = new Zipf(empresas, 1.2)
    var i = 0
    while (i < estabRows) {
      val e =
        if (i < empresas) i
        else if (i >= estabRows - orphans) empresas + (i - (estabRows - orphans))
        else filialZipf.sample(r)
      nextOrdem(e) += 1
      empOf(i) = e; ordem(i) = nextOrdem(e)
      mun(i) = drawMun(r); cnae(i) = drawCnae(r); sit(i) = drawSit(r)
      i += 1
    }
  }

  def rows: Int = n

  private def grow(): Unit = {
    cap *= 2
    empOf = java.util.Arrays.copyOf(empOf, cap)
    ordem = java.util.Arrays.copyOf(ordem, cap)
    mun = java.util.Arrays.copyOf(mun, cap)
    cnae = java.util.Arrays.copyOf(cnae, cap)
    sit = java.util.Arrays.copyOf(sit, cap)
    ver = java.util.Arrays.copyOf(ver, cap)
  }

  def nomeFantasia(row: Int, v: Int): String = {
    val r = rng(8, row.toLong * 1000 + v)
    val base = s"${pick(r, objetos)} ${pick(r, lugares)} " +
      java.lang.Integer.toString(row, 36).toUpperCase
    if (v == 0) base else s"$base REV$v"
  }

  /** The 30 raw fields of estabelecimento `row` in its current version. */
  private def estabFields(row: Int): Array[String] = {
    val e = empOf(row)
    val r = rng(9, row.toLong * 1000 + ver(row))
    val b = f"${basico(e)}%08d"
    val o = f"${ordem(row)}%04d"
    val numero = r.nextInt(10) match {
      case 0 => "S/N"
      case 1 => ""
      case _ => (1 + r.nextInt(4999)).toString
    }
    def ddd(): String = r.nextInt(8) match {
      case 0 => ""
      case _ => (11 + r.nextInt(88)).toString
    }
    val ddd1 = ddd()
    val tel1 = if (ddd1.isEmpty) "" else (30000000 + r.nextInt(69999999)).toString
    val hasSecond = r.nextInt(4) == 0
    val ddd2 = if (hasSecond) ddd() else ""
    val tel2 = if (ddd2.isEmpty) "" else (30000000 + r.nextInt(69999999)).toString
    val inicio = date(r, 1970, 2023)
    Array(
      b, o, checkDigits(b + o), if (ordem(row) == 1) "1" else "2",
      nomeFantasia(row, ver(row)), sit(row).toString, date(r, 2000, 2023),
      if (sit(row) == 2) "00" else f"${1 + r.nextInt(80)}%02d", "", "",
      inicio, cnae(row).toString,
      if (r.nextInt(3) == 0) Seq.fill(1 + r.nextInt(3))(drawCnae(r)).mkString(",")
      else "",
      pick(r, tiposLogradouro), s"${pick(r, lugares)} ${pick(r, sufixosLugar)}",
      numero, if (r.nextInt(4) == 0) s"SALA ${1 + r.nextInt(900)}" else "",
      s"${pick(r, bairros)}", f"${r.nextInt(100000000)}%08d", "SP",
      mun(row).toString, ddd1, tel1, ddd2, tel2, "", "",
      if (r.nextInt(3) == 0) s"contato${row}@exemplo.com.br" else "",
      "", "")
  }

  private def empresaFields(i: Int): Array[String] = {
    val r = rng(10, i)
    Array(f"${basico(i)}%08d", razaoSocial(i),
      pick(r, naturezas).toString, f"${pick(r, qualificacoes)}%02d",
      capitalSocial(i), pick(r, portes), "")
  }

  // ---- files ------------------------------------------------------------

  /** Writes the full raw drop under `root`; returns its total bytes. */
  def writeRaw(): Long = {
    val perm = permutation(estabRows, rng(11, 0))
    val estabDir = new File(root, "estabelecimentos")
    val empDir = new File(root, "empresas")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(shards)
    try {
      val futures = (0 until shards).flatMap { s =>
        Seq(
          pool.submit(task(writeFile(new File(estabDir,
            s"K3241.K03200Y$s.D40913.ESTABELE"),
            (s * estabRows / shards until (s + 1) * estabRows / shards)
              .iterator.map(j => estabFields(perm(j)))))),
          pool.submit(task(writeFile(new File(empDir,
            s"K3241.K03200Y$s.D40913.EMPRECSV"),
            (s * empresas / shards until (s + 1) * empresas / shards)
              .iterator.map(empresaFields)))))
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    def dim(sub: String, file: String, rows: Iterator[Array[String]]) =
      writeFile(new File(new File(root, sub), file), rows)
    dim("cnae", "F.K03200$Z.D40913.CNAECSV",
      (flagshipCnaes ++ otherCnaes).iterator.map(c =>
        Array(c.toString, cnaeDesc(c))))
    dim("municipios", "F.K03200$Z.D40913.MUNICCSV",
      (flagshipMuns ++ otherMuns).iterator.map(m =>
        Array(f"$m%04d", munName(m))))
    dim("motivo_situacao_cadastral", "F.K03200$Z.D40913.MOTICSV",
      situacoes.iterator.map { case (k, v) => Array(f"$k%02d", v) })
    dim("natureza_juridica", "F.K03200$Z.D40913.NATJUCSV",
      naturezas.iterator.map(k => Array(k.toString, s"NATUREZA $k")))
    dim("qualificacao_responsavel", "F.K03200$Z.D40913.QUALSCSV",
      qualificacoes.iterator.map(k => Array(f"$k%02d", s"QUALIFICAÇÃO $k")))
    dim("pais", "F.K03200$Z.D40913.PAISCSV",
      Iterator(Array("105", "BRASIL"), Array("249", "ESTADOS UNIDOS")))
    dirBytes(root)
  }

  /** Writes monthly delta `cycle` (1-based) to `dir` and applies it to
    * the expected state: about 1% of live rows change situação, often
    * CNAE, and their nome_fantasia; a few new filiais join. Returns the
    * number of delta rows. */
  def writeDelta(cycle: Int, dir: File): Int = {
    val r = rng(12, cycle)
    val changed = mutable.LinkedHashSet.empty[Int]
    val target = math.max(1, n / 100)
    while (changed.size < target) changed += r.nextInt(n)
    changed.foreach { row =>
      sit(row) = drawSit(r)
      if (r.nextBoolean()) cnae(row) = drawCnae(r)
      ver(row) = cycle
    }
    val added = math.max(3, n / 2000)
    val fresh = (0 until added).map { _ =>
      if (n == cap) grow()
      val e = r.nextInt(empresas)
      nextOrdem(e) += 1
      empOf(n) = e; ordem(n) = nextOrdem(e)
      mun(n) = drawMun(r); cnae(n) = drawCnae(r); sit(n) = drawSit(r)
      ver(n) = cycle
      n += 1
      n - 1
    }
    val all = changed.toSeq ++ fresh
    writeFile(new File(dir, f"K3241.K03200Y0.D4$cycle%04d.ESTABELE"),
      all.iterator.map(estabFields))
    all.size
  }

  /** The flagship export the current state must produce. */
  def expected(): Expected = {
    val muns = flagshipMuns.toSet
    val sits = Flagship.situacoes.toSet
    val cnaes = flagshipCnaes.toSet
    var count = 0L
    var hash = 0L
    var i = 0
    while (i < n) {
      val e = empOf(i)
      if (e < empresas && muns(mun(i)) && sits(sit(i)) && cnaes(cnae(i))) {
        count += 1
        hash += rowHash(Seq(basico(e).toString, nomeFantasia(i, ver(i)),
          razaoSocial(e), cnaeDesc(cnae(i)), munName(mun(i)),
          capitalSocial(e), sitDesc(sit(i))))
      }
      i += 1
    }
    Expected(count, hash)
  }

  /** Fraction of live estabelecimentos that pass all three IN filters. */
  def filterPassFraction(): Double = {
    val muns = flagshipMuns.toSet
    val sits = Flagship.situacoes.toSet
    val cnaes = flagshipCnaes.toSet
    (0 until n).count(i => muns(mun(i)) && sits(sit(i)) && cnaes(cnae(i)))
      .toDouble / n
  }

  def rawRows(): Long = estabRows.toLong + empresas + otherCnaes.length +
    flagshipCnaes.length + otherMuns.length + flagshipMuns.length +
    situacoes.size + naturezas.length + qualificacoes.length + 2
}

/** Row count and order-independent hash the export must reproduce. */
final case class Expected(rows: Long, hash: Long)

object Gen {
  private val MunWidth = 40

  /** Indices into [[Flagship.outputCols]] of the hashed key subset:
    * cnpj_basico, nome_fantasia, razao_social, descricao_cnae,
    * nome_municipio, capital_social, descricao_situacao_cadastral. */
  val HashedCols: Seq[Int] = Seq("cnpj_basico", "nome_fantasia",
    "razao_social", "descricao_cnae", "nome_municipio", "capital_social",
    "descricao_situacao_cadastral").map(Flagship.outputCols.indexOf(_))

  /** 64-bit hash of one row's hashed fields; a table's hash is the sum
    * (mod 2^64) over its rows, independent of row order. */
  def rowHash(fields: Seq[String]): Long = {
    val s = fields.mkString("\u0001")
    val h1 = scala.util.hashing.MurmurHash3.stringHash(s, 0x3c074a61)
    val h2 = scala.util.hashing.MurmurHash3.stringHash(s, 0x2f1e3ad5)
    (h1.toLong << 32) ^ (h2.toLong & 0xFFFFFFFFL)
  }

  private def mix(a: Long, b: Long): Long = {
    var z = a ^ (b * 0xBF58476D1CE4E5B9L)
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Zipf(s) over 0 until n by inverse CDF. */
  final class Zipf(n: Int, s: Double) {
    private val cdf = {
      val w = Array.tabulate(n)(k => 1.0 / math.pow(k + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x / total; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
      math.min(n - 1, if (i >= 0) i else -i - 1)
    }
  }

  /** CNPJ check digits of the 12-digit base. */
  private def checkDigits(base12: String): String = {
    def dv(digits: String): Int = {
      val ws = Seq(6, 5, 4, 3, 2, 9, 8, 7, 6, 5, 4, 3, 2).takeRight(digits.length)
      val s = digits.map(_ - '0').zip(ws).map { case (d, w) => d * w }.sum
      if (s % 11 < 2) 0 else 11 - s % 11
    }
    val d1 = dv(base12)
    val d2 = dv(base12 + d1)
    s"$d1$d2"
  }

  private def task(body: => Unit): java.util.concurrent.Callable[Unit] =
    () => body

  private def date(r: SplittableRandom, y0: Int, y1: Int): String =
    f"${y0 + r.nextInt(y1 - y0 + 1)}%04d${1 + r.nextInt(12)}%02d${1 + r.nextInt(28)}%02d"

  private def pick[A](r: SplittableRandom, xs: IndexedSeq[A]): A =
    xs(r.nextInt(xs.length))

  private def permutation(n: Int, r: SplittableRandom): Array[Int] = {
    val p = Array.tabulate(n)(identity)
    for (i <- p.indices.reverse) {
      val j = r.nextInt(i + 1); val t = p(i); p(i) = p(j); p(j) = t
    }
    p
  }

  /** One headerless, `;`-separated, fully quoted latin-1 file. */
  private def writeFile(f: File, rows: Iterator[Array[String]]): Unit = {
    f.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(
      new FileOutputStream(f), ISO_8859_1), 1 << 16)
    try rows.foreach { fields =>
      var i = 0
      while (i < fields.length) {
        if (i > 0) w.write(';')
        w.write('"'); w.write(fields(i)); w.write('"')
        i += 1
      }
      w.write('\n')
    } finally w.close()
  }

  def dirBytes(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.map(dirBytes).sum
    else f.length()

  private val situacoes = scala.collection.immutable.ListMap(
    1 -> "NULA", 2 -> "ATIVA", 3 -> "SUSPENSA", 4 -> "INAPTA",
    8 -> "BAIXADA")
  private val naturezas = IndexedSeq(2062, 2135, 2305, 2240, 2143, 3999,
    2046, 2011, 1244, 4014)
  private val qualificacoes = IndexedSeq(5, 10, 16, 49, 50, 65)
  private val portes = IndexedSeq("01", "03", "05")
  private val tiposLogradouro = IndexedSeq("RUA", "AVENIDA", "TRAVESSA",
    "RODOVIA", "PRAÇA", "ALAMEDA", "ESTRADA")
  private val actividades = IndexedSeq("CONSTRUÇÕES", "ENGENHARIA",
    "PAVIMENTAÇÃO", "INSTALAÇÕES ELÉTRICAS", "SERVIÇOS", "COMÉRCIO",
    "INCORPORAÇÃO", "MONTAGEM", "DEMOLIÇÃO", "FUNDAÇÕES", "TERRAPLENAGEM")
  private val objetos = IndexedSeq("ÁGUA", "AÇO", "CONCRETO", "MADEIRA",
    "VIDRAÇARIA", "HIDRÁULICA", "ELÉTRICA", "PINTURA", "TELHADOS", "PISOS",
    "ESTRUTURAS", "ANDAIMES", "GESSO", "ALVENARIA")
  private val lugares = IndexedSeq("SÃO JOÃO", "SANTA CATARINA",
    "CARAPICUÍBA", "TABOÃO", "MAIRINQUE", "GOIÂNIA", "BELÉM", "MACEIÓ",
    "JUNDIAÍ", "ITAPEVÍ", "PIRAJUÇARA", "CONCEIÇÃO", "ASSUNÇÃO", "IBIRAPUERA")
  private val sufixosLugar = IndexedSeq("DO SUL", "DA SERRA", "DO NORTE",
    "PAULISTA", "DAS FLORES", "VELHA", "NOVA", "DO CAMPO")
  private val bairros = IndexedSeq("CENTRO", "JARDIM ESPERANÇA",
    "VILA SÃO JOSÉ", "PARQUE DAS NAÇÕES", "JARDIM AMÉRICA", "VILA MARIANA",
    "CIDADE INDUSTRIAL")
  private val formas = IndexedSeq("LTDA", "S.A.", "EIRELI", "ME", "EPP")
}
