package graft.extensions

/** The streaming-idempotency cursor of the corpus indexes, the shard
  * export and [[graft.engine.GraftEngine]]'s `_stream_cursor`, as a
  * small PER-APP map ("appId\tbatchId" lines) instead of a single last
  * (appId, batchId) pair: with one pair, a second writer under a
  * different appId (a nightly re-admission pass, a second admission
  * stream) RESETS replay detection for the first, and in the closed
  * admission loop a defeated replay is not merely wasteful — the
  * replayed batch would be re-judged against an index that already
  * contains its own admissions, flag them all as near-dups, and
  * overwrite its owned-corpus batch dir with an empty kept set
  * (destroying admitted documents while their signatures remain
  * indexed). Bounded at [[MaxApps]] concurrent writers,
  * most-recently-updated last; eviction degrades the longest-idle app
  * to masked-duplicate behavior, never to data loss.
  */
private[graft] object TxnCursors {

  val MaxApps = 16

  /** The map, most-recently-updated last. A text without tabs is the
    * engine's legacy single-cursor file ("appId\nbatchId"), read as a
    * one-entry map. */
  def parse(s: String): Vector[(String, Long)] =
    if (s == null || s.isEmpty) Vector.empty
    else if (!s.contains('\t')) s.split('\n') match {
      case Array(app, bid, _*) => bid.toLongOption.map(app -> _).toVector
      case _ => Vector.empty
    }
    else s.split('\n').toVector.flatMap { l =>
      val i = l.lastIndexOf('\t')
      if (i < 0) None else l.drop(i + 1).toLongOption.map(l.take(i) -> _)
    }

  def render(cur: Vector[(String, Long)]): String =
    cur.map { case (a, b) => s"$a\t$b" }.mkString("\n")

  /** The last applied batchId for `app`, if any. */
  def applied(s: String, app: String): Option[Long] =
    parse(s).collectFirst { case (a, b) if a == app => b }

  def advance(s: String, app: String, bid: Long): String =
    render((parse(s).filterNot(_._1 == app) :+ (app -> bid)).takeRight(MaxApps))
}
