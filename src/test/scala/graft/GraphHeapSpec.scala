package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins every single-task local tier's worst-case heap, at the bound the
  * code applies, to the 1 GiB budget [[graft.operators.LocalTier]] states.
  * Each case sums every array its tier holds (scratch included, as if all
  * of it were live at once), so it is an upper bound; the pair loader's
  * doubling scratch lives only before any of those arrays exist. If anyone
  * raises a bound or fattens a per-row representation, this fails before
  * an executor OOMs.
  */
class GraphHeapSpec extends AnyFunSuite {

  private val budget = 1L << 30

  private def within(tier: String, bytes: Long): Unit =
    assert(bytes <= budget,
      f"$tier worst-case heap ${bytes / 1e9}%.2f GB exceeds the 1 GiB " +
        "LocalTier budget — lower its bound or slim the representation")

  test("local-tier heap at the shared threshold stays under the stated bound") {
    // the graph rows admit 2 × edges <= LocalSolveEdgesDefault arcs
    val arcs = operators.ConnectedComponents.LocalSolveEdgesDefault
    val bytesPerArc = 16L + 8L + 4L // (src, dst) longs + id-sort scratch + CSR neighbor
    val bytesPerNode = 8L + 12L + 16L // id + degree/offset/cursor ints + solver state
    val worstNodes = arcs // every arc endpoint distinct — upper bound
    within("graph CSR", arcs * bytesPerArc + worstNodes * bytesPerNode)
  }

  test("components union-find heap at its threshold stays under the budget") {
    // union-find admits this many rows, symmetrized or (after a star-round
    // hand-off) not, and indexes BOTH endpoint columns
    val arcs = operators.ConnectedComponents.LocalSolveEdgesDefault
    val bytesPerArc = 16L + 16L // (src, dst) longs + two-column id-sort scratch
    val bytesPerNode = 8L + 4L // id + int parent
    val worstNodes = 2 * arcs // every endpoint distinct
    within("union-find", arcs * bytesPerArc + worstNodes * bytesPerNode)
  }

  test("BPE and distill heaps at their bounds stay under the budget") {
    // TextQueries.BpeLocalWords' stated ~600 B per word
    within("BPE", analytics.TextQueries.BpeLocalWords * 600L)
    // a 7-long row array: 56 B + 16 B header + 8 B reference
    within("distill", analytics.TextQueries.DistillLocalRows * (7L * 8L + 16L + 8L))
  }

  test("MinHash pair-step heap at its row and shingle bounds stays under the budget") {
    // the bound covers Σ|hs|, not just rows: 8 B per stored shingle, plus
    // the read copies of one row's hs (a 16 B boxed Long and a 4 B slot per
    // element, the 8 B primitive copy, the 8 B sort copy), at worst every
    // shingle in one row
    val rows = analytics.DedupQueries.MinhashLocalRows
    val shingles = analytics.DedupQueries.MinhashLocalShingles
    val bytesPerRow =
      24L + 40L + // id; new id (builder doubling + trimmed copy + sort copy)
        (24L + 16L) + (24L + 16L + 16L * 8L) + // hs ref + header; sig ref + 16 lanes
        4L * (4L + 4L + 12L + 56L) + // per band: bucket, member, start + rep, boxed sort scratch
        (52L + 8L + 28L + 8L) + // id-order sort scratch, sorted ids, runs
        4L * 8L * 3L // one id's partners: ≤ 4 buckets' members, builder + sorted copy
    within("minhash pairs", rows * bytesPerRow + shingles * (8L + 16L + 4L + 8L + 8L))
  }

  test("buildCsr round-trips adjacency with sorted-id indexing") {
    val es = Seq((5L, 2L), (2L, 5L), (9L, 2L), (2L, 9L), (5L, 9L), (9L, 5L))
    val (ids, off, nbr) = analytics.GraphQueries.buildCsr(
      es.map(_._1).toArray, es.map(_._2).toArray)
    assert(ids.toSeq == Seq(2L, 5L, 9L))
    val adj = ids.indices.map { v =>
      ids(v) -> (off(v) until off(v + 1)).map(i => ids(nbr(i))).sorted
    }.toMap
    assert(adj == Map(2L -> Seq(5L, 9L), 5L -> Seq(2L, 9L), 9L -> Seq(2L, 5L)))
  }
}
