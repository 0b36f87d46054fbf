package graftbench

import java.nio.charset.StandardCharsets.UTF_8

/** Outcome of a correctness check: items checked and items that failed
  * (missing, duplicated, unexpected or with the wrong digest), plus the
  * first few failures by name.
  */
final case class GateResult(attempted: Long, failed: Long, notes: Seq[String] = Nil) {
  def ok: Boolean = failed == 0 && attempted > 0
  def ++(o: GateResult): GateResult =
    GateResult(attempted + o.attempted, failed + o.failed, (notes ++ o.notes).take(Gate.MaxNotes))
}

/** Correctness checks, run outside the timed region. Every function here
  * is pure over collected rows, so the tests can feed them broken data.
  */
object Gate {
  val MaxNotes = 8

  def md5Hex(s: String): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(s.getBytes(UTF_8))
    val sb = new StringBuilder(32)
    d.foreach(b => sb ++= f"${b & 0xff}%02x")
    sb.toString
  }

  /** Multiset comparison of `(key, digest)` rows. One item per expected
    * row; a key whose digests differ from the expected ones in any way
    * (missing, duplicated, changed) fails all of its rows, and a row with
    * a key nobody expected is an extra failed item. `ok = false` on an
    * otherwise matching row (a parse failure) fails that row too.
    */
  def digests(what: String, expected: Seq[(String, String)],
              got: Seq[(String, String, Boolean)]): GateResult = {
    val exp = expected.groupBy(_._1).map { case (k, rows) => k -> rows.map(_._2).sorted }
    val act = got.groupBy(_._1)
    var attempted = expected.size.toLong
    var failed = 0L
    val notes = Seq.newBuilder[String]
    var nNotes = 0
    def note(s: String): Unit = if (nNotes < MaxNotes) { notes += s; nNotes += 1 }
    exp.foreach { case (k, want) =>
      val rows = act.getOrElse(k, Nil)
      val have = rows.map(_._2).sorted
      if (have != want) {
        failed += math.max(want.size, have.size)
        note(if (have.isEmpty) s"$what $k: missing"
             else if (have.size != want.size) s"$what $k: ${have.size} rows, expected ${want.size}"
             else s"$what $k: digest differs")
      } else {
        val bad = rows.count(!_._3)
        if (bad > 0) { failed += bad; note(s"$what $k: not ok") }
      }
    }
    act.foreach { case (k, rows) =>
      if (!exp.contains(k)) {
        attempted += rows.size; failed += rows.size
        note(s"$what $k: unexpected")
      }
    }
    GateResult(attempted, failed, notes.result())
  }

  /** Every timed rep must reproduce the gate run's output fingerprint; a
    * rep that threw (`None`) or disagrees fails all of its items.
    */
  def repsAgree(what: String, reps: Seq[Option[String]], reference: String,
                itemsPerRep: Long): GateResult = {
    val bad = reps.zipWithIndex.filter { case (fp, _) => !fp.contains(reference) }
    GateResult(itemsPerRep * reps.size, itemsPerRep * bad.size,
      bad.take(MaxNotes).map { case (fp, i) =>
        s"$what rep $i: ${fp.fold("threw")(f => s"fingerprint $f != $reference")}" })
  }

  /** First-wins dedup recomputed by brute force in plain Scala, following
    * the documented semantics of `DedupOps.spanDedup`/`paraDedup`
    * (document order, then position). Run on the doc_id prefix `<= M`
    * the result is exact: whether an occurrence is its group's first
    * depends only on occurrences with a smaller ordinal, and those all
    * sit in documents `<= M`.
    */
  object BruteDedup {
    val SpanK = 8
    val ParaTokens = 20
    val ParaHeader = "cookie policy applies to this site"
    val ParaFooter = "subscribe to the newsletter for updates"

    private def toks(text: String): Array[String] = text.split(" ", -1)

    /** doc_id → (n_removed, digest) */
    def span(docs: Seq[(Long, String)]): Map[Long, (Long, String)] = {
      val seen = scala.collection.mutable.HashSet.empty[String]
      docs.sortBy(_._1).map { case (id, text) =>
        val t = toks(text)
        val starts = scala.collection.mutable.ArrayBuffer.empty[Int]
        var pos = 1
        while (pos <= t.length - (SpanK - 1)) {
          val gram = t.slice(pos - 1, pos - 1 + SpanK).mkString(" ")
          if (!seen.add(gram)) starts += pos
          pos += 1
        }
        val kept = t.indices.filter(i => !starts.exists(s => s <= i + 1 && i + 1 < s + SpanK)).map(t)
        id -> ((t.length - kept.size).toLong, md5Hex(kept.mkString(" ")))
      }.toMap
    }

    /** doc_id → (n_kept, digest) */
    def para(docs: Seq[(Long, String)]): Map[Long, (Long, String)] = {
      val seen = scala.collection.mutable.HashSet.empty[String]
      docs.sortBy(_._1).map { case (id, text) =>
        val t = toks(text)
        val body = (0 to (t.length - 1) / ParaTokens)
          .map(i => t.slice(i * ParaTokens, i * ParaTokens + ParaTokens).mkString(" "))
        val paras = (if (id % 7 == 0) Seq(ParaHeader) else Nil) ++ body :+ ParaFooter
        val kept = paras.filter(p => seen.add(p))
        id -> (kept.size.toLong, md5Hex(kept.mkString("\n")))
      }.toMap
    }
  }

  /** The Spark rows `(doc_id, count, digest)` of the prefix against the
    * brute-force recomputation.
    */
  def dedupPrefix(what: String, brute: Map[Long, (Long, String)],
                  got: Seq[(Long, Long, String)]): GateResult =
    digests(what,
      brute.toSeq.map { case (id, (n, d)) => id.toString -> s"$n:$d" },
      got.map { case (id, n, d) => (id.toString, s"$n:$d", true) })
}
