package graft.hic

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Contact-side operators (SURVEY.md A2, A5–A11). */
object Contacts {
  /** A5–A8: derived distance + class tag.
    * Classes: intraInRange / intraOutOfRange / interAll.
    */
  def classify(contacts: DataFrame, low: Long, up: Long): DataFrame =
    contacts
      .withColumn("dist",
        when(col("chr1") === col("chr2"), abs(col("mid2") - col("mid1"))))
      .withColumn("cls",
        when(col("chr1") =!= col("chr2"), "interAll")
          .when(col("dist").between(low, up), "intraInRange")
          .otherwise("intraOutOfRange"))

  /** A9/A11: keep only contacts whose BOTH ends are in the (filtered,
    * small) fragment set — two broadcast left-semi joins. Duplicate loci
    * in `frags` change nothing (a semi join never multiplies rows); a
    * caller holding the distinct loci cached hands them over as is, and
    * each broadcast then reads the cache with no generated stage.
    */
  def bothEndsMappable(contacts: DataFrame, frags: DataFrame): DataFrame = {
    def end(k: Int) = broadcast(frags.select(col("chr"), col("mid"))
      .as(s"__l$k"))
    def on(k: Int) = col(s"chr$k") === col(s"__l$k.chr") &&
      col(s"mid$k") === col(s"__l$k.mid")
    contacts.join(end(1), on(1), "left_semi")
      .join(end(2), on(2), "left_semi")
  }

  /** A10: attach per-end bias factors (broadcast joins). Biases outside
    * [low, up] or marked −1 contribute factor 1 (excluded from scaling,
    * matching the reference's clamp-or-ignore behavior).
    */
  def withBiases(contacts: DataFrame, biases: DataFrame,
      low: Double, up: Double): DataFrame =
    withBiasFactors(contacts, biasFactors(biases, low, up))

  /** The clamp-or-ignore half of [[withBiases]]: chr, mid, biasF. */
  def biasFactors(biases: DataFrame, low: Double, up: Double): DataFrame =
    biases.select(col("chr"), col("mid"),
      when(col("bias") === -1.0 || !col("bias").between(low, up), 1.0)
        .otherwise(col("bias")).as("biasF"))

  /** The join half of [[withBiases]]: bias1/bias2 from a [[biasFactors]]
    * table, 1.0 for an end without a factor. The factor table is joined
    * as is (aliased, not re-projected), so over a cached factor table
    * each broadcast reads the cache directly, with no generated stage.
    */
  def withBiasFactors(contacts: DataFrame, factors: DataFrame): DataFrame = {
    def end(k: Int) = broadcast(factors.as(s"__b$k"))
    def on(k: Int) = col(s"chr$k") === col(s"__b$k.chr") &&
      col(s"mid$k") === col(s"__b$k.mid")
    contacts.join(end(1), on(1), "left").join(end(2), on(2), "left")
      .select(contacts.columns.map(c => contacts(c)) ++
        Seq(col("__b1.biasF").as("bias1"), col("__b2.biasF").as("bias2")): _*)
      .na.fill(1.0, Seq("bias1", "bias2"))
  }
}
