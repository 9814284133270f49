package graft.pipeline

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnShim.{column, expression}
import graft.functions.{Hash60, Shingles}

/** Shared text primitives for the training-data pipeline operators
  * (dedup / similarity / analysis). No UDFs: the hot kernels (`hash60`,
  * `shingles`, `dot`) are native Catalyst expressions in `graft.functions`
  * with generated code, each bit-exact to the DuckDB formula documented on
  * it; the rest are built-in `org.apache.spark.sql.functions`. Filters and
  * projections stay inside WholeStageCodegen and push down to the scan.
  *
  * Portability contract: every primitive has an exact DuckDB equivalent
  * (documented per function) so the driver's oracle can reproduce results
  * bit-for-bit. That rules out xxhash64/murmur (Spark-only); we derive a
  * 60-bit hash from md5, which both engines implement identically.
  */
object TextOps {

  /** Deterministic 60-bit non-negative hash of a string column: the first
    * 15 hex digits of md5(s), read as an integer.
    * Spark:  native graft.functions.Hash60, bit-identical to
    *         conv(substring(md5(s), 1, 15), 16, 10) :: long
    * DuckDB: CAST('0x' || substr(md5(s), 1, 15) AS BIGINT)
    * 15 hex digits = 60 bits, so the value always fits in a signed 64-bit
    * integer and never goes negative. */
  def hash60(c: Column): Column = column(Hash60(expression(c)))

  /** Seeded variant: independent hash families for MinHash — the seed is
    * appended before hashing (same trick the reference's MinHash literature
    * uses for k hash functions from one base hash). */
  def hash60(c: Column, seed: Int): Column =
    hash60(concat(c, lit("#" + seed)))

  /** Whitespace tokens. DuckDB: string_split(text, ' '). */
  def tokens(text: Column): Column = split(text, " ")

  /** Word n-gram shingles as an array of strings (empty when the document
    * has fewer than n tokens). Spark: native graft.functions.Shingles.
    * DuckDB: list_transform(generate_series(1, len(ws)-(n-1)),
    *                        i -> array_to_string(ws[i:i+n-1], ' ')). */
  def shingles(ws: Column, n: Int): Column = column(Shingles(expression(ws), n))

  /** Cosine similarity between two double-array columns.
    * DuckDB: list_dot_product(a, b) / (sqrt(list_dot_product(a,a)) * ...).
    * Accumulates left-to-right in doubles in both engines. */
  /** Dense dot product — the native codegen'd Catalyst expression
    * (graft.functions.VecDot); see its scaladoc for why the
    * aggregate∘zip_with formulation loses. */
  def dot(a: Column, b: Column): Column = graft.functions.VecDot(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)
}
