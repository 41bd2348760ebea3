package graft.streaming

/** Step predicates by event type, for specs that drive [[ChainEngine]]
  * directly. */
object Steps {
  def of(types: String*): Seq[CepEvent => Boolean] =
    types.map(t => (e: CepEvent) => e.event_type == t)
}
