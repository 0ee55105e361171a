package perfbench

/** The single client's call order, in rounds: one session per entry point
  * is open at a time, and each round issues the next call of every open
  * session in turn; a finished session is replaced by the next session of
  * the same entry point. Every round therefore holds one call per entry
  * point, whatever the session lengths. Keys are `s<session>.<call>`. */
object Lanes {
  val Width = 7

  def apply(sessions: Seq[Seq[Op]]): Iterator[Seq[(Op, String)]] = {
    val lanes = (0 until Width).map { lane =>
      sessions.indices.filter(_ % Width == lane).iterator.flatMap { s =>
        sessions(s).indices.iterator.map(i => (sessions(s)(i), s"s$s.$i"))
      }
    }
    Iterator.continually(lanes.filter(_.hasNext).map(_.next())).takeWhile(_.size == Width)
  }
}
