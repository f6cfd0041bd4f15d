package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns — pure Column
  * expressions (`zip_with`/`aggregate`), fully codegen'd: no UDF
  * serialization on the similarity-search hot path. Arithmetic is done in
  * double (cast once) for cross-engine reproducibility.
  */
object Vectors {

  private def asD(v: Column): Column = transform(v, x => x.cast("double"))

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(asD(a), asD(b), _ * _), lit(0.0), _ + _)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val d = dot(a, b)
    val n = norm(a) * norm(b)
    when(n === 0, lit(0.0)).otherwise(d / n)
  }

  def l2Distance(a: Column, b: Column): Column =
    sqrt(aggregate(zip_with(asD(a), asD(b), (x, y) => (x - y) * (x - y)), lit(0.0), _ + _))

  // (SRP sign-bit computation lives in NativeHash.SrpBitsExpr — a
  // codegen'd expression; the HOF formulation was interpreted and paid
  // a per-plane re-evaluation tax.)

  /** REFERENCE IMPLEMENTATION (production paths use the fused
    * NativeHash.srpBuckets expression; NativeHashSpec pins the two
    * bit-identical): fold a 0/1 bit array into `tables` LSH bucket ids
    * of `bitsPerTable` bits each,
    * `array<struct<tbl:int, bucket:bigint>>` — explode and equi-join on
    * (tbl, bucket) for candidate generation. A pair at cosine θ shares
    * a bucket in one table with p = (1 − arccos(θ)/π)^r; recall across
    * L tables is 1 − (1 − p)^L. Raise `bitsPerTable` (≈ log2 corpus
    * size) to keep random collisions sub-quadratic, raise `tables` to
    * buy recall back.
    *
    * If used directly: pass the bits as their own projected column (not
    * the srpBits expression inline) — interpreted HOFs have no common-
    * subexpression elimination, so an inline expression would recompute
    * every dot product once per table.
    */
  def srpFoldBuckets(bits: Column, bitsPerTable: Int, tables: Int): Column =
    transform(sequence(lit(0), lit(tables - 1)), l =>
      struct(
        l.cast("int").as("tbl"),
        aggregate(
          zip_with(
            slice(bits, l * bitsPerTable + 1, lit(bitsPerTable)),
            sequence(lit(0), lit(bitsPerTable - 1)),
            (bit, i) => bit * call_function("shiftleft", lit(1L), i)),
          lit(0L), _ + _).as("bucket")))
}
