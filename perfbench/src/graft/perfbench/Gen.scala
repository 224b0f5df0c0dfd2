package graft.perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.util.SplittableRandom
import java.util.zip.GZIPOutputStream
import scala.collection.mutable.ArrayBuffer

/** Seeded input generators. Each takes the run's seed, so one seed always
  * gives the same files; the engine only ever sees the files. */
object Gen {
  val genres = Vector("Electronic", "Rock", "Jazz", "Funk / Soul", "Pop", "Hip Hop",
    "Classical", "Reggae", "Latin", "Folk, World, & Country", "Blues", "Stage & Screen",
    "Non-Music", "Children's", "Brass & Military")
  val styles = Vector("House", "Techno", "Ambient", "IDM", "Abstract", "Lounge", "Fusion",
    "Hard Bop", "Free Jazz", "Punk", "Indie Rock", "Shoegaze", "Krautrock", "Disco",
    "Dub", "Roots Reggae", "Soul", "Boom Bap", "Trip Hop", "Drum n Bass", "Garage",
    "Synth-pop", "Folk", "Bossanova", "Salsa", "Baroque", "Romantic", "Modal",
    "Post-Punk", "Noise", "Minimal", "Deep House", "Electro", "Breakbeat", "Experimental",
    "Soundtrack", "Score", "Contemporary", "Swing", "Cool Jazz")
  val countries = Vector("US", "UK", "Germany", "France", "Japan", "Netherlands", "Italy",
    "Canada", "Sweden", "Belgium", "Spain", "Brazil", "Australia", "Russia", "Poland",
    "Jamaica", "Europe", "Unknown")
  val formats = Vector("Vinyl", "CD", "Cassette", "File", "CDr", "Box Set")
  val descriptions = Vector("LP", "Album", "12\"", "EP", "Single", "Compilation",
    "Reissue", "Remastered", "Stereo", "Limited Edition", "45 RPM", "33 ⅓ RPM")
  private val syllables = Vector("ka", "lo", "mi", "ra", "tun", "vel", "dor", "sen",
    "bra", "qui", "zo", "mar", "nel", "pha", "tro", "gen", "lux", "ost", "fen", "dra")
  val words = Vector("night", "blue", "echo", "river", "signal", "dream", "motion",
    "city", "light", "shadow", "glass", "fire", "silver", "ocean", "machine", "garden",
    "storm", "velvet", "paper", "electric", "quiet", "north", "static", "golden")

  def esc(s: String): String =
    s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace("\"", "&quot;")

  private def name(r: SplittableRandom, parts: Int): String =
    (0 until parts).map(_ => (0 until 1 + r.nextInt(3)).map(_ => syllables(r.nextInt(syllables.size)))
      .mkString.capitalize).mkString(" ")
  private def phrase(r: SplittableRandom, n: Int): String =
    (0 until n).map(_ => words(r.nextInt(words.size))).mkString(" ")
  private def pick[T](r: SplittableRandom, v: Vector[T], n: Int): Seq[T] =
    pickIdx(r, v.size, n).map(v)
  private def pickIdx(r: SplittableRandom, size: Int, n: Int): Seq[Int] =
    (0 until n).map(_ => r.nextInt(size)).distinct

  /** One staged month in the Discogs bucket layout. */
  final case class Month(inDir: String, year: Int, month: Int, xmlBytes: Map[String, Long],
      rows: Map[String, Long], gzPaths: Map[String, String]) {
    def totalXmlBytes: Long = xmlBytes.values.sum
  }

  /** Four `.xml.gz` dumps shaped like the reference fixtures, releases
    * carrying most of the bytes (nested artists, labels, formats and a
    * tracklist the parser skips, as in the real dump), plus CHECKSUM.txt. */
  def month(inDir: String, seed: Long, scale: Double): Month = {
    val r = new SplittableRandom(seed)
    val year = 2016 + r.nextInt(8); val mo = 1 + r.nextInt(12)
    val stamp = f"$year%04d$mo%02d01"
    val dir = new File(s"$inDir/data/$year"); dir.mkdirs()
    val n = Map("artist" -> (3000 * scale).toInt.max(20), "label" -> (1200 * scale).toInt.max(10),
      "master" -> (2000 * scale).toInt.max(10), "release" -> (6000 * scale).toInt.max(30))
    val artistNames = Vector.fill(n("artist"))(name(r, 2))
    val labelNames = Vector.fill(n("label"))(name(r, 1 + r.nextInt(2)) + " Records")
    val bytes = scala.collection.mutable.Map.empty[String, Long]
    val paths = scala.collection.mutable.Map.empty[String, String]

    def dump(entity: String)(body: (String => Unit) => Unit): Unit = {
      val f = new File(dir, s"discogs_${stamp}_${entity}s.xml.gz")
      val w = new BufferedWriter(new OutputStreamWriter(new GZIPOutputStream(
        new FileOutputStream(f), 1 << 16), "UTF-8"), 1 << 16)
      var total = 0L
      def emit(s: String): Unit = { w.write(s); total += s.getBytes("UTF-8").length }
      try {
        emit(s"<${entity}s>\n"); body(emit); emit(s"</${entity}s>\n")
      } finally w.close()
      bytes(entity) = total; paths(entity) = f.getPath
    }
    def images(rr: SplittableRandom, widthFirst: Boolean): String =
      (0 until rr.nextInt(3)).map { i =>
        val (h, w) = (150 + rr.nextInt(450), 150 + rr.nextInt(450))
        val hw = if (widthFirst) s"""width="$w" height="$h"""" else s"""height="$h" width="$w""""
        s"""<image $hw type="${if (i == 0) "primary" else "secondary"}" uri="" uri150=""/>"""
      }.mkString("<images>", "", "</images>")

    dump("artist") { emit =>
      artistNames.zipWithIndex.foreach { case (nm, i) =>
        val aliases = pick(r, artistNames, r.nextInt(3)).map(a => s"<name>${esc(a)}</name>").mkString
        emit(s"<artist><id>${i + 1}</id><name>${esc(nm)}</name><realname>${esc(name(r, 2))}</realname>" +
          s"<profile>${esc(phrase(r, 5 + r.nextInt(30)))}</profile><data_quality>Correct</data_quality>" +
          s"<urls><url>https://example.org/a/${i + 1}</url></urls><namevariations><name>${esc(nm.take(6))}</name></namevariations>" +
          s"<aliases>$aliases</aliases>${images(r, widthFirst = false)}</artist>\n")
      }
    }
    dump("label") { emit =>
      labelNames.zipWithIndex.foreach { case (nm, i) =>
        val subs = pick(r, labelNames, r.nextInt(3)).map(s => s"<label>${esc(s)}</label>").mkString
        emit(s"<label><id>${i + 1}</id><name>${esc(nm)}</name><contactinfo>${esc(phrase(r, 4))} &amp; co</contactinfo>" +
          s"<profile>${esc(phrase(r, 3 + r.nextInt(20)))}</profile><data_quality>Needs Vote</data_quality>" +
          s"${images(r, widthFirst = true)}<urls><url>https://example.org/l/${i + 1}</url></urls>" +
          s"<sublabels>$subs</sublabels></label>\n")
      }
    }
    dump("master") { emit =>
      (1 to n("master")).foreach { i =>
        val arts = pickIdx(r, artistNames.size, 1 + r.nextInt(2)).map { a =>
          s"<artist><id>${a + 1}</id><name>${esc(artistNames(a))}</name><anv/><join>,</join><role/><tracks/></artist>"
        }.mkString
        val g = pick(r, genres, 1 + r.nextInt(2)).map(x => s"<genre>${esc(x)}</genre>").mkString
        val st = pick(r, styles, 1 + r.nextInt(3)).map(x => s"<style>${esc(x)}</style>").mkString
        emit(s"""<master id="$i"><main_release>${1 + r.nextInt(n("release"))}</main_release>""" +
          s"<artists>$arts</artists><genres>$g</genres><styles>$st</styles>" +
          s"<year>${1960 + r.nextInt(64)}</year><title>${esc(phrase(r, 1 + r.nextInt(4)))}</title>" +
          s"<data_quality>Correct</data_quality>${images(r, widthFirst = false)}" +
          s"""<videos><video duration="${60 + r.nextInt(400)}" embed="true" src="https://v.example/$i">""" +
          s"<title>${esc(phrase(r, 3))}</title><description>${esc(phrase(r, 6))}</description></video></videos></master>\n")
      }
    }
    dump("release") { emit =>
      (1 to n("release")).foreach { i =>
        val arts = pickIdx(r, artistNames.size, 1 + r.nextInt(3))
          .map(a => s"<artist><id>${a + 1}</id><name>${esc(artistNames(a))}</name></artist>").mkString
        val labs = pick(r, labelNames, 1 + r.nextInt(2))
          .map(l => s"""<label name="${esc(l)}" catno="${esc(l.take(3).toUpperCase)} ${r.nextInt(999)}"/>""").mkString
        val fmts = pick(r, formats, 1 + r.nextInt(2)).map { f =>
          val ds = pick(r, descriptions, r.nextInt(3)).map(d => s"<description>${esc(d)}</description>").mkString
          s"""<format name="$f" qty="${1 + r.nextInt(2)}"><descriptions>$ds</descriptions></format>"""
        }.mkString
        val g = pick(r, genres, 1 + r.nextInt(2)).map(x => s"<genre>${esc(x)}</genre>").mkString
        val st = pick(r, styles, r.nextInt(4)).map(x => s"<style>${esc(x)}</style>").mkString
        val tracks = (1 to 4 + r.nextInt(10)).map { t =>
          s"<track><position>$t</position><title>${esc(phrase(r, 1 + r.nextInt(4)))}</title>" +
            s"<duration>${1 + r.nextInt(9)}:${10 + r.nextInt(50)}</duration></track>"
        }.mkString
        val yr = 1960 + r.nextInt(64)
        emit(s"""<release id="$i" status="${if (r.nextInt(20) == 0) "Draft" else "Accepted"}">""" +
          s"<title>${esc(phrase(r, 1 + r.nextInt(5)))}</title><country>${esc(countries(r.nextInt(countries.size)))}</country>" +
          s"<released>$yr-${f"${1 + r.nextInt(12)}%02d"}-00</released><notes>${esc(phrase(r, r.nextInt(25)))}</notes>" +
          s"${images(r, widthFirst = false)}<artists>$arts</artists><labels>$labs</labels>" +
          s"<formats>$fmts</formats><genres>$g</genres><styles>$st</styles><tracklist>$tracks</tracklist></release>\n")
      }
    }
    def sha256(p: String): String =
      java.security.MessageDigest.getInstance("SHA-256")
        .digest(java.nio.file.Files.readAllBytes(new File(p).toPath)).map("%02x".format(_)).mkString
    val sums = paths.values.toSeq.sorted.map(p => s"${sha256(p)} *${new File(p).getName}")
    java.nio.file.Files.write(new File(dir, s"discogs_${stamp}_CHECKSUM.txt").toPath,
      sums.mkString("", "\n", "\n").getBytes("UTF-8"))
    Month(inDir, year, mo, bytes.toMap, n.map { case (k, v) => k -> v.toLong }, paths.toMap)
  }

  /** A document row in the `documents` table layout. */
  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  def doc(id: Long, text: String, r: SplittableRandom): Doc =
    Doc(id, text, Vector("en", "fr", "de", "zh", "es")(r.nextInt(5)), s"src${r.nextInt(20)}", text.length.toLong)

  /** Few distinct words, so most pairs overlap: the output-bound shape. */
  private val common = Vector("batch", "part", "spark", "line", "column", "order", "small",
    "sort", "fast", "value", "scan", "a", "hash", "slow", "group", "agg", "filter", "query",
    "big", "key", "window", "row", "table", "stream", "merge", "data", "join", "the",
    "vector", "customer", "the", "index", "plan", "cache", "node")
  def similarDocs(n: Int, seed: Long): Seq[Doc] = {
    val r = new SplittableRandom(seed)
    (0 until n).map(i => doc(i, (0 until 10 + r.nextInt(60)).map(_ => common(r.nextInt(common.size))).mkString(" "), r))
  }

  /** A skewed draw from a vocabulary of ~8,400 made-up words. */
  private def word(r: SplittableRandom): String = {
    val u = r.nextDouble(); val k = (u * u * u * 8000).toInt
    syllables(k % 20) + syllables((k / 20) % 20) + (if (k >= 400) syllables((k / 400) % 20) else "")
  }
  private def sentence(r: SplittableRandom, n: Int): String = (0 until n).map(_ => word(r)).mkString(" ")

  /** Mostly unrelated documents with a planted share of near-copies: each
    * copy has one word of an earlier document replaced. Returns the docs
    * and the planted (original, copy) id pairs. */
  def nearDupDocs(n: Int, seed: Long, idBase: Long = 0L, share: Double = 0.02): (Seq[Doc], Seq[(Long, Long)]) = {
    val r = new SplittableRandom(seed)
    val texts = new Array[String](n)
    val planted = ArrayBuffer.empty[(Long, Long)]
    val docs = (0 until n).map { i =>
      texts(i) =
        if (i > 10 && r.nextDouble() < share) {
          val src = r.nextInt(i)
          val w = texts(src).split(' ')
          w(r.nextInt(w.length)) = word(r)
          planted += ((idBase + src, idBase + i))
          w.mkString(" ")
        } else sentence(r, 30 + r.nextInt(40))
      doc(idBase + i, texts(i), r)
    }
    (docs, planted.toSeq)
  }
}
