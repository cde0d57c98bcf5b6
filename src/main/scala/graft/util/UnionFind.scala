package graft.util

/** Driver-side union-find over `Long` labels, behind the small-graph paths
  * of [[graft.ops.TextDedup.connectedComponents]] and
  * [[graft.ops.Similarity.boruvkaMsf]]. `union` links the larger root
  * under the smaller, so every root is its set's minimum label (what both
  * kernels' distributed paths produce); `find` compresses the path it
  * walks. An unseen label is its own singleton.
  */
final class UnionFind {
  private val parent = scala.collection.mutable.Map[Long, Long]()

  def find(x: Long): Long = {
    var r = x
    while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
    var c = x
    while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
    r
  }

  /** Records `a` and `b` and merges their sets; false if already merged. */
  def union(a: Long, b: Long): Boolean = {
    parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
    val (ra, rb) = (find(a), find(b))
    if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    ra != rb
  }

  /** Every recorded label with its root. */
  def labels: Seq[(Long, Long)] = parent.keys.toSeq.map(v => (v, find(v)))
}

object UnionFind {
  /** Most edges a graph kernel labels on the driver: ~100 B per collected
    * edge plus ~80 B per node keeps it under ~50 MB, a broadcast's size.
    */
  val LocalEdgeBound = 250000L
}
