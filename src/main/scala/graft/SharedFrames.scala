package graft

/** Registry of persistent-RDD ids that back SESSION-SCOPED shared
  * frames — materialized intermediates an operator family deliberately
  * shares across entry invocations within one process (the multimodal
  * decode is the first user). [[Harness.sweeping]] (Bench's per-entry
  * leaked-persist sweep) consults this registry GENERICALLY instead of
  * special-casing any entry family: a registered id is spared, an
  * unregistered leak is released as before. Verify deliberately does
  * NOT consult it — its per-entry sweep releases shared frames too, so
  * every gated entry recomputes its standalone form (the owner's
  * liveness check then rebuilds on next use). Nothing here persists
  * across JVM runs. */
object SharedFrames {
  private val ids = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
  def register(id: Int): Unit = { ids.add(id); () }
  def unregister(id: Int): Unit = { ids.remove(id); () }
  def contains(id: Int): Boolean = ids.contains(id)
}
