package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions.array_dot
import graft.ops.Materialize

/** Parametric Optimized Product Quantization (Ge, He, Ke & Sun,
  * "Optimized Product Quantization", CVPR 2013, §4 "OPQ-P"): rotate the
  * corpus into its PCA basis, ALLOCATE the principal dimensions to the
  * `m` PQ subspaces so each subspace carries a balanced variance
  * product (greedy bin-packing on Σ log λ — the paper's eigenvalue
  * allocation), then run ordinary PQ in the rotated space. Plain PQ on
  * raw embeddings splits the vector by position, so correlated /
  * variance-skewed dimensions land in the same codebook and waste
  * codes; the rotation decorrelates and the allocation balances.
  *
  * The rotation is the UNCENTERED orthonormal PCA basis: for an
  * orthonormal R, `dot(Rx, Ry) = dot(x, y)`, so ADC inner-product
  * ranking in the rotated space targets exactly the same ground truth
  * as in the original space (centering would shift every score by a
  * query-dependent constant — harmless for ranking by a FIXED query,
  * but uncentered keeps the equivalence exact and testable).
  *
  * Scale shape: fit is one moments pass ([[Pca.fit]]) + driver-side
  * d×d work; rotation is d codegen'd [[graft.functions.ArrayDot]]s per
  * row — a narrow map, no shuffle; everything downstream is the
  * existing [[ProductQuantizer]] machinery unchanged.
  */
object Opq {

  /** Greedy eigenvalue allocation: dims sorted by λ descending, each
    * assigned to the not-yet-full subspace with the smallest running
    * Σ log λ (balance the variance PRODUCT per subspace — Ge et al.
    * §4.1). Returns `m` groups of exactly `d/m` dimension indices.
    */
  def allocate(eigenvalues: Array[Double], m: Int): Array[Array[Int]] = {
    val d = eigenvalues.length
    require(m >= 1 && d % m == 0, s"dim $d must divide into m=$m subspaces")
    val dsub = d / m
    val groups = Array.fill(m)(Vector.empty[Int])
    val logSum = Array.fill(m)(0.0)
    for (dim <- eigenvalues.zipWithIndex.sortBy(-_._1).map(_._2)) {
      val s = (0 until m).filter(groups(_).length < dsub).minBy(logSum)
      groups(s) :+= dim
      // λ can be 0 (degenerate dims); floor it so log stays finite and
      // zero-variance dims still spread across subspaces
      logSum(s) += math.log(math.max(eigenvalues(dim), 1e-300))
    }
    groups.map(_.toArray)
  }

  /** The allocated rotation: PCA components reordered so consecutive
    * `d/m` blocks are the allocated subspaces. Rows are the (unit)
    * basis vectors of the rotated space.
    */
  def rotation(model: Pca.Model, m: Int): Array[Array[Double]] =
    allocate(model.eigenvalues, m).flatten.map(model.components)

  /** `vec → R·vec` as a narrow column map: one codegen'd dot per output
    * dimension against a literal basis row.
    */
  def rotateColumn(vecCol: Column, basis: Array[Array[Double]]): Column =
    array(basis.map(row => array_dot(vecCol, lit(row))): _*)

  /** End-to-end OPQ ANN: fit PCA + allocation on the corpus, rotate
    * corpus and queries, train/encode/search with the stock PQ. Same
    * output contract as [[ProductQuantizer.topK]].
    */
  def topK(corpus: DataFrame, queries: DataFrame,
           m: Int = 8, ksub: Int = 16, iters: Int = 3,
           k: Int = 5, rerank: Int = 0,
           vecCol: String = "embedding",
           idCol: String = "vec_id"): DataFrame = {
    val model = Pca.fit(corpus, vecCol, k = Int.MaxValue)
    val r = rotation(model, m)
    def rot(df: DataFrame): DataFrame = df.select(
      col(idCol), rotateColumn(col(vecCol), r).as(vecCol))
    // MATERIALIZE the rotated corpus (production OPQ stores rotated
    // vectors for exactly this reason): without the checkpoint,
    // CollapseProject inlines the d-dot rotation array into every
    // downstream subspace slice × centroid comparison — the same
    // recompute trap as the round-1 simhash/assignCells plans, measured
    // at 13 s vs ~2 s for plain PQ at sf0.1. After it, encode/train
    // read a stored array exactly like they do from parquet.
    val rc = Materialize.checkpoint(rot(corpus))
    val cb = ProductQuantizer.train(rc, m, ksub, iters, vecCol, idCol)
    ProductQuantizer.topK(
      ProductQuantizer.encode(rc, cb, vecCol), rot(queries), cb,
      k = k, vecCol = vecCol, idCol = idCol, rerank = rerank)
  }
}
