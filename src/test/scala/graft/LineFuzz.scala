package graft

import org.scalacheck.Gen

/** Generated log lines for the parser specs: structured records
  * rendered to style-5 and combined-format lines with a plain-Scala
  * renderer (independent of the query-side render grammar), and byte
  * mutations that turn valid lines into the malformed input a real
  * rotated log carries. */
object LineFuzz {

  case class Rec(ip: String, ts: String, method: String, dir: String,
                 name: String, query: String, status: Int, bytes: Long,
                 cinfo: String, nStats: Int, last6: Seq[Long])

  val word: Gen[String] = Gen.alphaLowerStr.map(_.take(8)).suchThat(_.nonEmpty)

  val recGen: Gen[Rec] = for {
    o1 <- Gen.choose(1, 254); o2 <- Gen.choose(0, 254)
    o3 <- Gen.choose(0, 254); o4 <- Gen.choose(1, 254)
    mon <- Gen.oneOf("Jan", "Feb", "Mar", "Apr", "May", "Jun",
                     "Jul", "Aug", "Sep", "Oct", "Nov", "Dec")
    day <- Gen.choose(10, 28); h <- Gen.choose(10, 23)
    mi <- Gen.choose(10, 59); se <- Gen.choose(10, 59)
    method <- Gen.oneOf("GET", "POST", "DESCRIBE")
    d1 <- word; d2 <- word
    nm <- word
    // sometimes a space-digit token starting with 6 → P4 head-drop case
    tricky <- Gen.oneOf(true, false)
    trickyDigits <- Gen.choose(10, 99)
    q <- Gen.oneOf("", "?start=0", "?a=b&c=d")
    status <- Gen.choose(200, 599).suchThat(s => s / 100 != 6)
    bytes <- Gen.choose(0L, 5000000000L)   // > 2^31: bytes_sent must be long
    cinfo <- Gen.oneOf(
      "WinNT_5.1_6.0.11.818_play32_RN01_EN_586_0",
      "Linux_2.4_6.0.9.20_play32_RN01_DE_686_1",
      "QTS (qtver=6.5;os=Mac 10.1.5)")
    nStats <- Gen.choose(0, 2)
    l6 <- Gen.listOfN(6, Gen.choose(0L, 100000L))
  } yield Rec(s"$o1.$o2.$o3.$o4", s"$day/$mon/2002:$h:$mi:$se", method,
    s"/$d1/$d2",
    (if (tricky) s"clip 6$trickyDigits " else "clip") + nm + ".rm", q,
    status, bytes, cinfo, nStats, l6)

  def render(r: Rec): String = {
    val stats = (0 until r.nStats).map {
      case 0 => " [Stat1: 10 2 3 4 5 sipr]"
      case _ => " [Stat2: 1 2 3 4 5 6 7 8 9.125 10 11 cook]"
    }.mkString
    s"${r.ip} - - [${r.ts} -0700] \"${r.method} ${r.dir}/${r.name}${r.query} " +
      s"RTSP/1.0\" ${r.status} ${r.bytes} [${r.cinfo}] [abc-def-123]" +
      s"$stats ${r.last6.mkString(" ")}"
  }

  /** A combined-format record: the style-5 record's ip, timestamp,
    * path, status and bytes, a media extension and a user agent. */
  val webGen: Gen[(Rec, String, String)] = for {
    r <- recGen
    ua <- Gen.oneOf("Windows-Media-Player/9.0", "Mozilla/4.0 (compatible)")
    ext <- Gen.oneOf(".wmv", ".wma")
  } yield (r, ua, ext)

  def webName(r: Rec, ext: String): String = r.name.replace(".rm", ext)

  def renderWeb(r: Rec, ua: String, ext: String): String =
    s"${r.ip} - - [${r.ts} -0700] \"GET ${r.dir}/${webName(r, ext)} HTTP/1.1\" " +
      s"${r.status} ${r.bytes} \"-\" \"$ua\""

  /** One mutation of a valid line, applied to its bytes. */
  sealed trait Mutation { def apply(line: Array[Byte]): Array[Byte] }
  case class Truncate(at: Double) extends Mutation {
    def apply(l: Array[Byte]) = l.take((l.length * at).toInt)
  }
  /** Drops the `k`-th `[` (open) or `]` (close) of the line. */
  case class Unbalance(open: Boolean, k: Int) extends Mutation {
    def apply(l: Array[Byte]) = {
      val at = l.indices.filter(i => l(i) == (if (open) '[' else ']').toByte)
      if (at.isEmpty) l else l.patch(at(k % at.size), Nil, 1)
    }
  }
  /** Overwrites bytes at relative offsets with bytes that are never
    * valid UTF-8 on their own (lone continuation or 0xF8..0xFF). */
  case class NonUtf8(at: Seq[(Double, Int)]) extends Mutation {
    def apply(l: Array[Byte]) = {
      val out = l.clone()
      at.foreach { case (p, b) => if (out.nonEmpty) out(((out.length - 1) * p).toInt) = b.toByte }
      out
    }
  }
  /** Grows the line to about 1 MB: a long query string on the request,
    * or a run of stat blocks before the numeric tail. */
  case class Huge(inQuery: Boolean) extends Mutation {
    def apply(l: Array[Byte]) = {
      val s = new String(l, java.nio.charset.StandardCharsets.ISO_8859_1)
      val grown =
        if (inQuery) s.replaceFirst(" (RTSP|HTTP)/1\\.(\\d)\"", "?q=" + ("a1b2" * 262144) + " $1/1.$2\"")
        else s.replaceFirst("] (\\d)", "]" + (" [Stat1: 10 2 3 4 5 sipr]" * 42000) + " $1")
      grown.getBytes(java.nio.charset.StandardCharsets.ISO_8859_1)
    }
  }
  /** Inserts a `[Stat1: …]` block at a relative offset: inside the
    * request, a bracket or the numeric tail. */
  case class StrayStat(at: Double, closed: Boolean) extends Mutation {
    def apply(l: Array[Byte]) = {
      val block = (if (closed) " [Stat1: 7 8 9 1 2 sipr] " else " [Stat1: 7 8 9 ").getBytes("US-ASCII")
      val i = (l.length * at).toInt
      l.take(i) ++ block ++ l.drop(i)
    }
  }
  /** Swaps the `k`-th letter or digit of the first bracket's first 20
    * characters (the timestamp slot) for the other kind: a digit
    * becomes a letter, a letter a digit (`Oct` → `O3t`, which the
    * `\w` month class still admits). */
  case class StampSwap(k: Int) extends Mutation {
    def apply(l: Array[Byte]) = {
      val open = l.indexOf('['.toByte)
      val at = (open + 1 until math.min(open + 21, l.length))
        .filter(i => open >= 0 && Character.isLetterOrDigit(l(i).toChar))
      if (at.isEmpty) l else {
        val i = at(k % at.size)
        val c = l(i).toChar
        l.updated(i, (if (c.isDigit) 'a' + (c - '0') else '0' + c % 10).toByte)
      }
    }
  }
  /** Replaces the `k`-th space-prefixed numeric token with `digits`
    * (19 to 25 digits: around and past the long range). */
  case class LongToken(k: Int, digits: String) extends Mutation {
    def apply(l: Array[Byte]) = {
      val starts = (1 until l.length).filter(i =>
        l(i - 1) == ' '.toByte && l(i) >= '0'.toByte && l(i) <= '9'.toByte)
      if (starts.isEmpty) l else {
        val s = starts(k % starts.size)
        var e = s
        while (e < l.length && l(e) >= '0'.toByte && l(e) <= '9'.toByte) e += 1
        l.take(s) ++ digits.getBytes("US-ASCII") ++ l.drop(e)
      }
    }
  }

  /** Drops the `k`-th `[…]` group with the space before it: a line
    * keeps its shape with one bracket fewer (no client-info or guid
    * bracket, or one stat block less). */
  case class DropBracket(k: Int) extends Mutation {
    def apply(l: Array[Byte]) = {
      val groups = "\\s?\\[[^\\]]*\\]".r
        .findAllMatchIn(new String(l, java.nio.charset.StandardCharsets.ISO_8859_1)).toSeq
      if (groups.isEmpty) l else {
        val g = groups(k % groups.size)
        l.take(g.start) ++ l.drop(g.end)
      }
    }
  }

  val mutationGen: Gen[Mutation] = Gen.frequency(
    3 -> Gen.choose(0.0, 1.0).map(Truncate),
    3 -> (for { o <- Gen.oneOf(true, false); k <- Gen.choose(0, 5) } yield Unbalance(o, k)),
    3 -> Gen.nonEmptyListOf(Gen.zip(Gen.choose(0.0, 1.0),
      Gen.oneOf(Gen.choose(0x80, 0xBF), Gen.choose(0xF8, 0xFF)))).map(NonUtf8),
    1 -> Gen.oneOf(true, false).map(Huge),
    3 -> Gen.zip(Gen.choose(0.0, 1.0), Gen.oneOf(true, false)).map(StrayStat.tupled),
    2 -> Gen.choose(0, 40).map(StampSwap),
    3 -> Gen.choose(0, 5).map(DropBracket),
    2 -> (for {
      k <- Gen.choose(0, 30)
      n <- Gen.choose(19, 25)
      head <- Gen.choose(1, 9)
      rest <- Gen.listOfN(n - 1, Gen.numChar)
    } yield LongToken(k, head.toString + rest.mkString)))

  /** `n` lines (seeded) from `render`ed records: a fifth stay valid,
    * the rest carry one to three mutations. ~1 MB growth is kept only
    * on every hundredth line, plus one of each kind on a valid line,
    * so the corpus stays a few MB. Returns the lines and the valid
    * ones among them. */
  def corpus[R](gen: Gen[R], render: R => String, n: Int,
                seed: Long): (Seq[Array[Byte]], Seq[String]) = {
    val caseGen = for {
      r <- gen
      k <- Gen.frequency(1 -> Gen.const(0), 4 -> Gen.choose(1, 3))
      ms <- Gen.listOfN(k, mutationGen)
    } yield (r, ms)
    val cases = Gen.listOfN(n, caseGen)
      .apply(Gen.Parameters.default, org.scalacheck.rng.Seed(seed))
      .getOrElse(throw new IllegalStateException("generator produced no sample"))
    val lines = cases.zipWithIndex.map { case ((r, ms), i) =>
      val kept = if (i % 100 == 0) ms else ms.filterNot(_.isInstanceOf[Huge])
      kept.foldLeft(render(r).getBytes("UTF-8"))((l, m) => m(l))
    } ++ Seq(Huge(true), Huge(false)).map(_(render(cases.head._1).getBytes("UTF-8")))
    (lines, cases.filter(_._2.isEmpty).map(c => render(c._1)))
  }

  /** Writes `lines` one per row (newline-terminated) to a new temp
    * file for `spark.read.text`, and returns its path. */
  def writeLines(lines: Seq[Array[Byte]], prefix: String): String = {
    require(lines.forall(l => !l.contains('\n'.toByte) && !l.contains('\r'.toByte)),
      "a line holds a line break the text source would split on")
    val file = java.nio.file.Files.createTempDirectory(prefix).resolve("fuzz.log")
    val bytes = new java.io.ByteArrayOutputStream()
    lines.foreach { l => bytes.write(l); bytes.write('\n') }
    java.nio.file.Files.write(file, bytes.toByteArray)
    file.toString
  }
}
