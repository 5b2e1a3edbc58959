package graft.operators

/** One switch for every session-cached artifact: persisted frames and
  * memoized values (fitted IVF quantizers, PQ codebooks, LSH indexes,
  * corpus counts, the el_comp parity fit) all live in [[PersistSlots]],
  * and one clear drops them. Used by Bench's cold re-run: dropping these
  * returns the session to artifact-cold state (codegen stays compiled —
  * that part of cold is once-per-JVM) without forking a fresh JVM. */
object ArtifactCaches {
  def clear(): Unit = PersistSlots.clear()
}
