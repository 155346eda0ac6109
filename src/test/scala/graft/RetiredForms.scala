package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{functions => F}

/** Retired expression-tree forms of production kernels, kept as the
  * differential references the native kernels are pinned bit-equal to.
  * Each is the exact formulation the kernel replaced (and the one the
  * oracle SQL mirrors).
  */
object RetiredForms {

  /** `TextFunctions.ngramArray` before the native
    * [[org.apache.spark.sql.graft.NgramArray]] kernel: `split` on the
    * quoted separator, then one `slice` + `array_join` lambda per gram.
    */
  def ngramArrayTree(text: Column, n: Int, sep: String = " "): Column =
    if (sep.isEmpty) charNgramArrayTree(text, n)
    else {
      val w = split(text, java.util.regex.Pattern.quote(sep))
      if (n == 1) w
      else
        // the descending sequence(0, size-n) on a short doc would
        // evaluate slice(start=0) and throw — guard with an empty array
        when(F.size(w) >= n,
          F.transform(F.sequence(lit(0), F.size(w) - n),
            i => array_join(F.slice(w, i + lit(1), lit(n)), sep)))
          .otherwise(array())
    }

  /** `TextFunctions.charNgramArray` before the native kernel: one
    * `substr` lambda per code-point window.
    */
  def charNgramArrayTree(text: Column, n: Int): Column =
    when(length(text) >= n,
      F.transform(F.sequence(lit(0), length(text) - n),
        i => text.substr(i + lit(1), lit(n))))
      .otherwise(array().cast("array<string>"))

  private def pmod(x: Column, m: Column): Column = ((x % m) + m) % m

  /** `Dedup.withMinHashSignature` before the native
    * [[org.apache.spark.sql.graft.MinHashFold]]: the base-hash array in
    * its own projection, then one `array_min(transform(...))` lambda
    * per coefficient, over the tree-form shingles.
    */
  def withMinHashSignatureLambdas(df: DataFrame, text: Column,
      out: String = "sig", n: Int = 2, k: Int = 64, seed: Long = 42L,
      baseHash: Column => Column = xxhash64(_),
      sep: String = " "): DataFrame = {
    val p = graft.functions.PortableHash.P
    val coeffs = graft.operators.Dedup.minHashCoeffs(k, seed)
    df.withColumn("__graft_xs",
        F.transform(ngramArrayTree(text, n, sep), s => pmod(baseHash(s), lit(p))))
      .withColumn(out, F.array(coeffs.map { case (a, b) =>
        array_min(F.transform(col("__graft_xs"),
          x => pmod(x * lit(a) + lit(b), lit(p))))
      }: _*))
      .drop("__graft_xs")
  }
}
