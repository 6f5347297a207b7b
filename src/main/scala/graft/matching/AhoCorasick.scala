package graft.matching

import scala.collection.mutable.{ArrayBuffer, HashMap => MHashMap, Queue => MQueue}

/** From-scratch Aho-Corasick automaton — the JVM counterpart of the
  * reference's pyahocorasick usage (`knowledge/aho_corasick_engine.py:110-173`,
  * `fusion/ac_automaton.py:29-284`): case-insensitive multi-pattern scan
  * with word-boundary validation and longest-match iteration.
  *
  * Built once per executor from broadcast keyword sets (see
  * `AhoCorasick.cached`) — the Spark idiom for the reference's
  * initialize-once automaton sharing (`service_processor.py:101-295`).
  */
final class AhoCorasick private (
    nextState: Array[Array[Int]],      // [state][ascii char] -> state (-1 none)
    extNext: Array[MHashMap[Char, Int]], // non-ascii transitions
    fail: Array[Int],
    outputs: Array[List[Int]],         // pattern indexes ending at state
    val patterns: Array[String]) extends Serializable {

  /** A match: [start, end) character offsets and the pattern index. */
  final case class Hit(start: Int, end: Int, patternIdx: Int) {
    def pattern: String = patterns(patternIdx)
    def length: Int = end - start
  }

  @inline private def step(state: Int, c: Char): Int = {
    var s = state
    while (true) {
      val t =
        if (c < 128) nextState(s)(c)
        else extNext(s).getOrElse(c, -1)
      if (t >= 0) return t
      if (s == 0) return 0
      s = fail(s)
    }
    0
  }

  /** Scan lowercased text; patterns are stored lowercased so matching is
    * case-insensitive. Returns every pattern occurrence.
    */
  def findAll(text: String): IndexedSeq[Hit] = {
    val out = new ArrayBuffer[Hit]
    var state = 0
    var i = 0
    val n = text.length
    while (i < n) {
      state = step(state, Character.toLowerCase(text.charAt(i)))
      var os = outputs(state)
      while (os.nonEmpty) {
        val p = os.head
        out += Hit(i + 1 - patterns(p).length, i + 1, p)
        os = os.tail
      }
      i += 1
    }
    out.toIndexedSeq
  }

  @inline private def isWordChar(c: Char): Boolean =
    Character.isLetterOrDigit(c) || c == '_'

  /** Word-boundary-validated matches: chars adjacent to the match must
    * not be alphanumeric (reference ORG validation,
    * `service_processor.py:2896-3041`).
    */
  def findWholeWords(text: String): IndexedSeq[Hit] =
    findAll(text).filter { h =>
      (h.start == 0 || !isWordChar(text.charAt(h.start - 1))) &&
      (h.end == text.length || !isWordChar(text.charAt(h.end)))
    }

  /** Longest-match-wins, left-to-right, non-overlapping whole-word
    * matches: [[AhoCorasick.longestFirst]] over `findWholeWords`.
    */
  def findLongestNonOverlapping(text: String): IndexedSeq[Hit] =
    AhoCorasick.longestFirst(findWholeWords(text))(_.start, _.end)
}

object AhoCorasick {

  /** The one overlap resolver (reference dedup semantics,
    * `service_processor.py:1380-1421`): visit the items by length desc,
    * then start asc (equal ones in input order), and keep an item when
    * its [start, end) overlaps no kept item and its key equals no kept
    * item's key. The key defaults to the item itself. Returns the kept
    * items sorted by start. The overlap test scans the kept items, so
    * the cost is O(n × kept).
    */
  def longestFirst[T](items: Seq[T])(start: T => Int, end: T => Int,
      key: T => Any = (t: T) => t): IndexedSeq[T] = {
    val taken = new ArrayBuffer[T]
    val keys = scala.collection.mutable.HashSet.empty[Any]
    items.sortBy(t => (start(t) - end(t), start(t))).foreach { t =>
      val k = key(t)
      if (!keys.contains(k) && !taken.exists(o => start(t) < end(o) && start(o) < end(t))) {
        keys += k; taken += t
      }
    }
    taken.sortBy(start).toIndexedSeq
  }

  def build(patternsIn: Seq[String]): AhoCorasick = {
    val patterns = patternsIn.map(_.toLowerCase).toArray
    val children = new ArrayBuffer[MHashMap[Char, Int]]
    val outBuf = new ArrayBuffer[List[Int]]
    children += MHashMap.empty; outBuf += Nil
    // trie
    patterns.zipWithIndex.foreach { case (p, pi) =>
      var s = 0
      var i = 0
      while (i < p.length) {
        val c = p.charAt(i)
        s = children(s).getOrElseUpdate(c, {
          children += MHashMap.empty; outBuf += Nil
          children.length - 1
        })
        i += 1
      }
      if (p.nonEmpty) outBuf(s) = pi :: outBuf(s)
    }
    val n = children.length
    val fail = new Array[Int](n)
    // BFS fail links
    val q = MQueue.empty[Int]
    children(0).values.foreach { s => fail(s) = 0; q.enqueue(s) }
    while (q.nonEmpty) {
      val u = q.dequeue()
      children(u).foreach { case (c, v) =>
        var f = fail(u)
        while (f != 0 && !children(f).contains(c)) f = fail(f)
        fail(v) = if (children(f).contains(c) && children(f)(c) != v) children(f)(c) else 0
        outBuf(v) = outBuf(v) ::: outBuf(fail(v))
        q.enqueue(v)
      }
    }
    // dense ascii transition table + sparse ext map
    val nextState = Array.fill(n)(Array.fill(128)(-1))
    val extNext = Array.fill(n)(MHashMap.empty[Char, Int])
    var s = 0
    while (s < n) {
      children(s).foreach { case (c, v) =>
        if (c < 128) nextState(s)(c) = v else extNext(s)(c) = v
      }
      s += 1
    }
    new AhoCorasick(nextState, extNext, fail, outBuf.toArray, patterns)
  }

  // per-JVM (= per-executor) compiled automaton cache, keyed by caller id
  private val cache = new java.util.concurrent.ConcurrentHashMap[String, AhoCorasick]()

  /** Executor-side singleton: compile once per JVM per key. The Spark
    * counterpart of the reference's init-ONCE shared automatons.
    */
  def cached(key: String, patterns: => Seq[String]): AhoCorasick =
    cache.computeIfAbsent(key, _ => build(patterns))

  /** Drop cached automatons whose key matches — called when a corpus
    * bundle is superseded so stale versions don't accumulate for the
    * JVM lifetime (in-flight users keep their references; removal only
    * unpins the map entry).
    */
  def evict(pred: String => Boolean): Unit = {
    val it = cache.keySet.iterator
    while (it.hasNext) if (pred(it.next())) it.remove()
  }
}
