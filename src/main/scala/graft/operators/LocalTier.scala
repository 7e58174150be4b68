package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.apache.spark.storage.StorageLevel

import scala.reflect.ClassTag

/** The one single-task tier: an iterative operator whose whole input is
  * under its measured row bound solves it inside ONE executor task (never
  * on the driver) instead of paying a distributed round's fixed cost per
  * iteration. The graph rows, components, BPE, distill and the incremental
  * MinHash pair step keep their own solver, bound and distributed tier. Every caller's worst case at its
  * bound stays under 1 GiB of one task's heap (`GraphHeapSpec` pins it).
  */
object LocalTier {

  /** `rows <= bound`, logged once as `[tier] <name> rows=<n> bound=<b>
    * local|distributed` under `SPARK_GRAFT_VERBOSE`.
    */
  def fits(name: String, rows: Long, bound: Long): Boolean = {
    val local = rows <= bound
    if (sys.env.contains("SPARK_GRAFT_VERBOSE"))
      System.err.println(s"[tier] $name rows=$rows bound=$bound " +
        (if (local) "local" else "distributed"))
    local
  }

  /** `solve` over all of `input` in one task; the result is persisted,
    * released at the harness seam via [[graft.CacheTracker]], materialized.
    */
  def rows(input: DataFrame, schema: StructType)(
      solve: Iterator[Row] => Iterator[Row]): DataFrame = {
    val rdd = graft.CacheTracker.trackRdd(input.rdd.coalesce(1).mapPartitions(solve)
      .persist(StorageLevel.MEMORY_AND_DISK))
    rdd.count()
    input.sparkSession.createDataFrame(rdd, schema)
  }

  /** [[rows]] over a (src, dst) BIGINT input loaded as two primitive
    * arrays (16 B per row), with non-null BIGINT output columns `out`.
    */
  def pairs(input: DataFrame, out: Seq[String])(
      solve: (Array[Long], Array[Long]) => Iterator[Row]): DataFrame =
    rows(input, StructType(out.map(StructField(_, LongType, nullable = false))))(
      it => solve.tupled(load(it)))

  // grown by doubling, then trimmed: the untrimmed arrays are garbage once
  // this returns, before the solver allocates
  private def load(it: Iterator[Row]): (Array[Long], Array[Long]) = {
    var src = new Array[Long](1 << 16)
    var dst = new Array[Long](1 << 16)
    var n = 0
    while (it.hasNext) {
      val r = it.next()
      if (n == src.length) {
        src = java.util.Arrays.copyOf(src, 2 * n)
        dst = java.util.Arrays.copyOf(dst, 2 * n)
      }
      src(n) = r.getLong(0); dst(n) = r.getLong(1); n += 1
    }
    (java.util.Arrays.copyOf(src, n), java.util.Arrays.copyOf(dst, n))
  }

  /** The one-value form: `solve` reduces all of `input` in one task; one job. */
  def value[T: ClassTag](input: DataFrame)(solve: Iterator[Row] => T): T =
    input.rdd.coalesce(1).mapPartitions(it => Iterator.single(solve(it))).collect()(0)

  /** The sorted distinct ids of `cols` (primitive sort, in-place dedupe:
    * no boxing, 8 B per input id of scratch); index order is id order.
    */
  def sortedIds(cols: Array[Long]*): Array[Long] = {
    val all = Array.concat(cols: _*)
    java.util.Arrays.sort(all)
    var n = 0
    var i = 0
    while (i < all.length) {
      if (n == 0 || all(i) != all(n - 1)) { all(n) = all(i); n += 1 }
      i += 1
    }
    java.util.Arrays.copyOf(all, n)
  }
}
