package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}

/** Hostile page shapes, each the worst case of one kernel path, and the
  * wall-time check they are held to: a hostile page must finish within a
  * stated multiple of a benign page of the same size, timed in the same
  * test.
  */
object Hostile {

  /** A hostile page may take this many times a benign page of its size: the
    * linear kernels measured 2–11× on a 4-core Xeon VM (a hostile page has
    * more tags and blocks per byte).
    */
  val MULTIPLE = 40

  /** `<html><body>`, `<b>`×d, then `</i>`×d: every end tag matches no open
    * element, under a stack d deep.
    */
  def unmatchedEnds(chars: Int): String = {
    val d = (chars - 12) / 7
    "<html><body>" + "<b>" * d + "</i>" * d
  }

  /** `<b>`×d, then `<li>x</li>`×d: every item implies the end of an open
    * item above a list boundary, and no list is open.
    */
  def orphanItems(chars: Int): String = {
    val d = chars / 13
    "<b>" * d + "<li>x</li>" * d
  }

  /** `<div>`, `<b>`×d, then `t<br>`×d: every block is emitted under a stack
    * d deep, its nearest block element at the bottom.
    */
  def blocksUnderInline(chars: Int): String = {
    val d = (chars - 5) / 8
    "<div>" + "<b>" * d + "t<br>" * d
  }

  /** A benign article of about `chars` chars: dense paragraphs. */
  def article(chars: Int): String = {
    val p = "<p>lorem ipsum dolor sit amet consectetur adipiscing elit sed do " +
      "eiusmod tempor incididunt ut labore et dolore magna aliqua</p>"
    "<html><body><article>" + p * (chars / p.length) + "</article></body></html>"
  }

  /** A PDF of two raw content streams followed by `pad`×(about `bytes`
    * minus the streams): with digits, every position of the run starts an
    * object-header match.
    */
  def pdfPadded(bytes: Int, pad: Char): Array[Byte] = {
    val body = graft.sources.Corpus.pdfBytes(
      Seq("BT 72 700 Td (first page) Tj ET", "BT 72 700 Td (second page) Tj ET"),
      flate = false, badFilter = false)
    body ++ Array.fill[Byte](math.max(0, bytes - body.length))(pad.toByte)
  }

  /** The least wall time of `reps` runs of `f`, in ms, after one untimed run. */
  def bestMs(reps: Int)(f: => Any): Double = {
    f
    (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      f
      (System.nanoTime() - t0) / 1e6
    }.min
  }

  /** A run not finished after this multiple of its bound fails the check at
    * once.
    */
  private val GIVE_UP = 20

  /** Whether one of `tries` runs of `f` finishes within `boundMs`. Each run
    * goes on a daemon thread: one still going after `GIVE_UP` × `boundMs`
    * fails the check there and is left to end on its own, so a quadratic
    * path on a large page fails in seconds instead of holding the suite
    * for minutes. An exception of `f` is rethrown.
    */
  def finishesWithin(boundMs: Double, tries: Int = 3)(f: => Any): Boolean = {
    var k = 0
    while (k < tries) {
      k += 1
      val done = new CountDownLatch(1)
      @volatile var err: Throwable = null
      val t = new Thread(() => try f catch { case e: Throwable => err = e } finally done.countDown())
      t.setDaemon(true)
      val t0 = System.nanoTime()
      t.start()
      if (!done.await(math.max(1L, (boundMs * GIVE_UP).toLong), TimeUnit.MILLISECONDS)) return false
      val ms = (System.nanoTime() - t0) / 1e6
      if (err != null) throw err
      if (ms <= boundMs) return true
    }
    false
  }
}
