package graftbench

import graft.model.RawDoc
import graft.sources.DocGen
import java.util.SplittableRandom

/** Seeded input generators. Every row is a pure function of (seed, row
  * index), so the same seed always yields the same tables, and the
  * extraction inputs can be generated in parallel inside Spark.
  */
object Gen {

  /** SplitMix-style mixing of a seed and a row index into an RNG seed. */
  def mix(seed: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + i * 0xBF58476D1CE4E5B9L + 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  def rng(seed: Long, i: Long): SplittableRandom = new SplittableRandom(mix(seed, i))

  // ------------------------------------------------------ base documents

  /** The shape of the `documents` test table: 8-96 words drawn uniformly
    * from a 30-word vocabulary, ~300 chars per doc.
    */
  val Vocab: Array[String] = Array("spark", "window", "merge", "table", "column", "vector",
    "stream", "value", "data", "small", "join", "filter", "big", "group", "hash", "customer",
    "sort", "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
    "scan", "batch")

  /** Base rows of extract_mix; its corpus replicates them under seeded ids. */
  val BaseDocs = 1200

  def baseText(seed: Long, j: Long): String = {
    val r = rng(seed, j)
    val n = 8 + r.nextInt(89)
    val sb = new java.lang.StringBuilder(n * 6)
    var k = 0
    while (k < n) {
      if (k > 0) sb.append(' ')
      sb.append(Vocab(r.nextInt(Vocab.length)))
      k += 1
    }
    sb.toString
  }

  // ------------------------------------------------------- extract_mix

  /** Seeded id offset: contiguous ids keep DocGen's residue-driven mix
    * (50/30/20 kinds, 1-in-101 giants, URL-gate and >100-page rejects)
    * exact, while the seed moves which base text lands on which id.
    */
  def idOffset(seed: Long): Long = 1000000L * (1 + java.lang.Math.floorMod(mix(seed, -1L), 100000L))

  /** Row k of the extract_mix corpus: DocGen over the seeded base,
    * replicated under seeded ids.
    */
  def mixDoc(seed: Long, k: Long): RawDoc =
    DocGen.synthesize(idOffset(seed) + k, baseText(seed, k % BaseDocs))

  // ------------------------------------------------------- extract_web

  private val Words: Array[String] = ("the of and to in a is that for it as was with be by on not he " +
    "this are or his from at which but have an they you were her she there been one all we their " +
    "has would when if so no will more about up out who them what its new some time people could " +
    "report city council budget school project water plan public state street market energy " +
    "company season team players health study research data science history local community " +
    "policy court officials program service building students").split(' ')

  private val First = Array("John", "Sarah", "Michael", "Emily", "David", "Jane", "Robert", "Maria")
  private val Last = Array("Smith", "Johnson", "Garcia", "Chen", "Patel", "Brown", "Miller", "Lopez")
  private val Months = Array("January", "March", "April", "June", "August", "October", "November")
  private val Cities = Array("Chicago", "Houston", "Seattle", "Boston", "Denver", "Atlanta")

  private def sentence(r: SplittableRandom, sb: java.lang.StringBuilder): Unit = {
    r.nextInt(6) match {
      case 0 =>
        sb.append(First(r.nextInt(First.length))).append(' ').append(Last(r.nextInt(Last.length)))
          .append(" said the ").append(Words(r.nextInt(Words.length))).append(" plan would open on ")
          .append(Months(r.nextInt(Months.length))).append(' ').append(1 + r.nextInt(28))
          .append(", ").append(2018 + r.nextInt(7)).append(" in ").append(Cities(r.nextInt(Cities.length)))
          .append(". ")
      case 1 =>
        sb.append("The ").append(Words(r.nextInt(Words.length))).append(" costs $")
          .append(10 + r.nextInt(990)).append(',').append(100 + r.nextInt(900))
          .append(" and covers ").append(2 + r.nextInt(40)).append(" miles. ")
      case _ =>
        val n = 8 + r.nextInt(18)
        var k = 0
        while (k < n) {
          val w = Words(r.nextInt(Words.length))
          if (k == 0) sb.append(Character.toUpperCase(w.charAt(0))).append(w, 1, w.length)
          else sb.append(' ').append(w)
          k += 1
        }
        sb.append(". ")
    }
  }

  private def word(r: SplittableRandom): String = Words(r.nextInt(Words.length))

  private def cls(r: SplittableRandom, sb: java.lang.StringBuilder): Unit = {
    sb.append(" class=\"")
    val n = 1 + r.nextInt(4)
    var k = 0
    while (k < n) {
      if (k > 0) sb.append(' ')
      sb.append(word(r)).append('-').append(Integer.toHexString(r.nextInt(1 << 16)))
      k += 1
    }
    sb.append("\" data-v-").append(Integer.toHexString(r.nextInt())).append("=\"\"")
  }

  private def div(r: SplittableRandom, sb: java.lang.StringBuilder): Unit = {
    sb.append("<div"); cls(r, sb); sb.append('>')
  }

  private def links(r: SplittableRandom, sb: java.lang.StringBuilder, n: Int, host: String): Unit = {
    var k = 0
    while (k < n) {
      sb.append("<li"); cls(r, sb); sb.append("><a href=\"https://").append(host).append('/')
        .append(word(r)).append('/').append(r.nextInt(100000)).append("\">")
        .append(word(r)).append(' ').append(word(r)).append("</a></li>")
      k += 1
    }
  }

  private def svgIcon(r: SplittableRandom, sb: java.lang.StringBuilder): Unit = {
    sb.append("<svg viewBox=\"0 0 24 24\" width=\"24\" height=\"24\"><path d=\"M")
    var k = 0
    val n = 20 + r.nextInt(60)
    while (k < n) {
      sb.append(r.nextInt(24)).append('.').append(r.nextInt(100)).append(' ')
        .append(r.nextInt(24)).append('.').append(r.nextInt(100)).append(if (k % 3 == 0) " L" else " C")
      k += 1
    }
    sb.append("0 0z\"></path></svg>")
  }

  private def script(r: SplittableRandom, sb: java.lang.StringBuilder, bytes: Int): Unit = {
    sb.append("<script>")
    val end = sb.length + bytes
    while (sb.length < end) {
      sb.append("window.__d").append(r.nextInt(1000)).append("=function(e,t){var n=e[\"")
        .append(word(r)).append("\"]||{};for(var i=0;i<t.length;i++){n[t[i]]=")
        .append(r.nextInt(100000)).append(";}return n};")
    }
    sb.append("</script>")
  }

  private def style(r: SplittableRandom, sb: java.lang.StringBuilder, bytes: Int): Unit = {
    sb.append("<style>")
    val end = sb.length + bytes
    while (sb.length < end) {
      sb.append('.').append(word(r)).append('-').append(Integer.toHexString(r.nextInt(1 << 16)))
        .append("{margin:").append(r.nextInt(40)).append("px;color:#")
        .append(Integer.toHexString(0x100000 + r.nextInt(0xEFFFFF))).append("}")
    }
    sb.append("</style>")
  }

  /** Nesting depth of a page's div soup: tens deep, with a tail to a few
    * hundred — far below the depth that overflows the recursive tree
    * walks (a robustness defect, not load to time).
    */
  def webDepth(r: SplittableRandom): Int = {
    val u = r.nextInt(100)
    if (u < 85) 10 + r.nextInt(31)
    else if (u < 97) 40 + r.nextInt(81)
    else 150 + r.nextInt(251)
  }

  /** Row k of the extract_web corpus: a real-web-shaped HTML page of a
    * few hundred KB, mostly element-dense markup: attribute-heavy div
    * soup, link farms, inline SVG, plus some script and style. Menus, sidebars, comment threads and the footer
    * link farm sit in plain div/ul/table containers, so the density
    * scorer (not the tag strip) has to remove them; a few KB of article
    * text sits inside the same soup.
    */
  def webPage(seed: Long, k: Long): RawDoc = {
    val r = rng(seed, k)
    val host = s"site${r.nextInt(50)}.example.org"
    val sb = new java.lang.StringBuilder(400000)
    sb.append("<!DOCTYPE html><html lang=\"en\"><head><meta charset=\"utf-8\"><title>")
      .append(word(r)).append(' ').append(word(r)).append(" | ").append(host).append("</title>")
    for (_ <- 0 until 10 + r.nextInt(20))
      sb.append("<meta name=\"").append(word(r)).append("\" content=\"").append(word(r)).append(' ')
        .append(word(r)).append("\">")
    for (_ <- 0 until 3 + r.nextInt(8))
      sb.append("<link rel=\"preload\" href=\"/static/").append(Integer.toHexString(r.nextInt()))
        .append(".js\" as=\"script\">")
    for (_ <- 0 until 2 + r.nextInt(2)) script(r, sb, 4000 + r.nextInt(12000))
    style(r, sb, 4000 + r.nextInt(8000))
    sb.append("</head><body"); cls(r, sb); sb.append('>')

    // top menu: a link farm in a plain div > ul
    div(r, sb); sb.append("<ul"); cls(r, sb); sb.append('>')
    links(r, sb, 600 + r.nextInt(800), host)
    sb.append("</ul></div>")
    // article text: a few KB at the bottom of the div soup
    val depth = webDepth(r)
    for (_ <- 0 until depth) div(r, sb)
    sb.append("<h1>").append(word(r)).append(' ').append(word(r)).append("</h1>")
    val articleEnd = sb.length + 1200 + r.nextInt(1800)
    var para = 0
    while (sb.length < articleEnd) {
      if (para % 4 == 3) { sb.append("<h2>").append(word(r)).append(' ').append(word(r)).append("</h2>") }
      sb.append("<p>")
      for (_ <- 0 until 2 + r.nextInt(4)) sentence(r, sb)
      sb.append("</p>")
      if (para % 5 == 2) {
        sb.append("<img src=\"https://cdn.").append(host).append("/img/").append(r.nextInt(1 << 20))
          .append(".jpg\" alt=\"").append(word(r)).append("\">")
      }
      para += 1
    }
    for (_ <- 0 until depth) sb.append("</div>")
    // sidebar: related links in a table, with inline SVG icons
    div(r, sb); div(r, sb); sb.append("<table>")
    for (_ <- 0 until 60 + r.nextInt(100)) {
      sb.append("<tr><td>"); svgIcon(r, sb); sb.append("</td><td><a href=\"/").append(word(r))
        .append("\">").append(word(r)).append(' ').append(word(r)).append(' ').append(word(r))
        .append("</a></td></tr>")
    }
    sb.append("</table></div></div>")
    // comment thread: link-heavy short comments in nested divs
    div(r, sb); div(r, sb)
    for (_ <- 0 until 120 + r.nextInt(180)) {
      div(r, sb); sb.append("<a href=\"/u/").append(r.nextInt(100000)).append("\">")
        .append(First(r.nextInt(First.length))).append(r.nextInt(1000)).append("</a> <a href=\"#c")
        .append(r.nextInt(1 << 20)).append("\">").append(1 + r.nextInt(23)).append(" hours ago</a>")
      div(r, sb); sb.append(word(r)).append(' ').append(word(r)).append(' ').append(word(r))
        .append("</div><a href=\"#reply\">Reply</a> <a href=\"#like\">Like</a></div>")
    }
    sb.append("</div></div>")
    // footer link farm in a plain div > table
    div(r, sb); sb.append("<table><tr>")
    for (c <- 0 until 4 + r.nextInt(4)) {
      sb.append("<td><ul>"); links(r, sb, 60 + r.nextInt(60), host); sb.append("</ul></td>")
    }
    sb.append("</tr></table></div>")
    script(r, sb, 2000 + r.nextInt(8000))
    sb.append("</body></html>")
    val html = sb.toString
    RawDoc(f"web$seed%d-$k%06d", "html", html, Seq.empty, "", html.length.toLong, 1,
      source_url = s"https://$host/${word(r)}/$k.html", http_status = 200,
      content_type = "text/html; charset=utf-8")
  }

  // ------------------------------------------------------ curate_dedup

  final case class CurateDoc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)
  final case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

  /** A planted near-duplicate family: the root's id, the member ids and
    * the token-edit rate that derived each member from the root.
    */
  final case class Family(root: Long, members: Seq[Long], editRate: Double)

  final case class CurateInput(docs: Seq[CurateDoc], textFamilies: Seq[Family],
      embeddings: Seq[Embedding], embFamilies: Seq[Family])

  val EditRates: Seq[Double] = Seq(0.02, 0.05, 0.10, 0.20)

  private val Langs = Array("en", "en", "en", "en", "zh", "zh", "es", "es", "fr", "fr", "de", "de", "en")

  /** Curation text vocabulary: 4,000 pronounceable pseudo-words, drawn
    * uniformly, so unrelated docs rarely share a 3-word shingle or a
    * near SimHash; the planted families and the boilerplate block make
    * the duplicates.
    */
  private val CurateVocab: Array[String] = {
    val syl = Array("ka", "lo", "mi", "ne", "ru", "ta", "so", "vi", "de", "pa", "zu", "fo", "gi", "be",
      "ha", "ti", "mo", "ra", "le", "nu")
    Array.tabulate(4000)(i => syl(i % 20) + syl((i / 20) % 20) + (if (i >= 400) syl((i / 400) % 20) else ""))
  }

  private def curateWord(r: SplittableRandom): String = CurateVocab(r.nextInt(CurateVocab.length))

  /** One curation doc body: 20-160 Zipf words. */
  def curateText(seed: Long, j: Long): String = {
    val r = rng(seed ^ 0x5DEECE66DL, j)
    Array.fill(20 + r.nextInt(141))(curateWord(r)).mkString(" ")
  }

  /** Boilerplate block appended to a share of the docs: its shingles are
    * the hot set (document frequency far above the pairing caps).
    */
  val Boilerplate: String =
    "share this page subscribe to our newsletter read more about our privacy policy and terms of use"

  private def edit(r: SplittableRandom, text: String, rate: Double): String =
    text.split(' ').map(w => if (r.nextDouble() < rate) curateWord(r) else w).mkString(" ")

  /** The curate_dedup tables: `docs` base docs plus
    * planted near-duplicate families at each edit rate, exact reposts
    * (case and whitespace variants), a hot boilerplate shingle set on a
    * quarter of the docs, repetitive docs, and `vecs` unit embeddings
    * with planted near-duplicate families and exact copies.
    */
  def curate(seed: Long, docs: Int, vecs: Int, planted: Boolean = true, dim: Int = 64): CurateInput = {
    val r = rng(seed, -7L)
    val texts = new Array[String](docs)
    val families = scala.collection.mutable.ArrayBuffer.empty[Family]
    var i = 0
    while (i < docs) {
      val u = r.nextInt(100)
      if (planted && u < 12 && i + 2 < docs) {
        // near-dup family of 3-5: root + members at one edit rate
        val rate = EditRates(r.nextInt(EditRates.length))
        val size = math.min(3 + r.nextInt(3), docs - i)
        val root = curateText(seed, i.toLong)
        texts(i) = root
        for (m <- 1 until size) texts(i + m) = edit(r, root, rate)
        families += Family(i.toLong, (i + 1 until i + size).map(_.toLong), rate)
        i += size
      } else if (planted && u < 16 && i > 0) {
        // exact repost of an earlier doc, case / whitespace variant
        val src = texts(r.nextInt(i))
        texts(i) = if (r.nextBoolean()) src.toUpperCase else src.replace(" ", "  ")
        i += 1
      } else if (planted && u < 19) {
        // repetitive doc: one short phrase repeated
        val phrase = curateText(seed, i.toLong).split(' ').take(3).mkString(" ")
        texts(i) = Seq.fill(6 + r.nextInt(10))(phrase).mkString(" ")
        i += 1
      } else {
        texts(i) = curateText(seed, i.toLong)
        i += 1
      }
    }
    val rows = texts.indices.map { j =>
      val t = if (r.nextInt(4) == 0) texts(j) + " " + Boilerplate else texts(j)
      CurateDoc(j.toLong, t, Langs(r.nextInt(Langs.length)), s"src${j % 20}", t.length.toLong)
    }

    def unit(v: Array[Double]): Array[Float] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(x => (x / n).toFloat)
    }
    def gaussian(): Array[Double] = Array.fill(dim)(r.nextDouble() * 2 - 1 + (r.nextDouble() * 2 - 1))
    val embs = new Array[Embedding](vecs)
    val embFamilies = scala.collection.mutable.ArrayBuffer.empty[Family]
    var v = 0
    while (v < vecs) {
      val u = r.nextInt(100)
      if (planted && u < 10 && v + 1 < vecs) {
        val root = gaussian()
        val size = math.min(2 + r.nextInt(3), vecs - v)
        embs(v) = Embedding(v.toLong, unit(root), r.nextInt(10))
        for (m <- 1 until size)
          embs(v + m) = Embedding((v + m).toLong, unit(root.map(x => x + 0.15 * (r.nextDouble() * 2 - 1))),
            embs(v).label)
        embFamilies += Family(v.toLong, (v + 1 until v + size).map(_.toLong), 0.15)
        v += size
      } else if (planted && u < 13 && v > 0) {
        val src = embs(r.nextInt(v))
        embs(v) = Embedding(v.toLong, src.embedding.clone(), src.label)
        v += 1
      } else {
        embs(v) = Embedding(v.toLong, unit(gaussian()), r.nextInt(10))
        v += 1
      }
    }
    CurateInput(rows, families.toSeq, embs.toSeq, embFamilies.toSeq)
  }
}
