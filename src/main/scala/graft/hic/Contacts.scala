package graft.hic

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.LocusKey

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

  /** A10: attach per-end bias factors (broadcast joins). Biases outside
    * [low, up] or marked −1 contribute factor 1 (excluded from scaling,
    * matching the reference's clamp-or-ignore behavior); an end without
    * a factor gets 1.0.
    */
  def withBiases(contacts: DataFrame, biases: DataFrame,
      low: Double, up: Double): DataFrame =
    attachFactors(contacts, biasFactors(biases, low, up), k =>
      col(s"chr$k") === col(s"__b$k.chr") &&
        col(s"mid$k") === col(s"__b$k.mid"))

  /** The clamp-or-ignore half of [[withBiases]]: chr, mid, biasF. */
  def biasFactors(biases: DataFrame, low: Double, up: Double): DataFrame =
    biases.select(col("chr"), col("mid"),
      when(col("bias") === -1.0 || !col("bias").between(low, up), 1.0)
        .otherwise(col("bias")).as("biasF"))

  // The packed-key forms: each lookup joins on ONE long key
  // (graft.functions.LocusKey), so Spark builds a LongHashedRelation —
  // about 1 MB for a few thousand loci — where a (chr, mid) key builds an
  // UnsafeHashedRelation that holds at least one 16 MB memory page.

  /** Per-end packed locus keys `locus1`, `locus2` over the chromosome
    * names `chroms`; an end on a chromosome outside them gets null.
    */
  def withLocusKeys(contacts: DataFrame, chroms: Seq[String]): DataFrame =
    contacts
      .withColumn("locus1", LocusKey.column(col("chr1"), col("mid1"), chroms))
      .withColumn("locus2", LocusKey.column(col("chr2"), col("mid2"), chroms))

  /** A (chr, mid, …) lookup table keyed as (locus, …), without the rows on
    * a chromosome outside `chroms`: they can match no keyed contact end.
    */
  def keyedByLocus(table: DataFrame, chroms: Seq[String]): DataFrame = {
    val rest = table.columns.filterNot(Set("chr", "mid")).map(col)
    table.select(LocusKey.column(col("chr"), col("mid"), chroms).as("locus")
        +: rest: _*)
      .filter(col("locus").isNotNull)
  }

  /** A9/A11: keep only the contacts, keyed by [[withLocusKeys]], whose
    * BOTH ends are in the (filtered, small) keyed loci `loci` (one
    * column, `locus`): two broadcast left-semi joins. Duplicate loci
    * change nothing (a semi join never multiplies rows).
    */
  def bothEndsMappable(keyed: DataFrame, loci: DataFrame): DataFrame = {
    def end(k: Int) = broadcast(loci.as(s"__l$k"))
    keyed.join(end(1), col("locus1") === col("__l1.locus"), "left_semi")
      .join(end(2), col("locus2") === col("__l2.locus"), "left_semi")
  }

  /** [[withBiases]]'s join on packed keys: bias1/bias2 from a keyed
    * [[biasFactors]] table (locus, biasF), 1.0 for an end without a
    * factor.
    */
  def withBiasFactors(keyed: DataFrame, factors: DataFrame): DataFrame =
    attachFactors(keyed, factors, k => col(s"locus$k") === col(s"__b$k.locus"))

  /** bias1/bias2 from `factors` (…, biasF), aliased `__b1`/`__b2` and
    * joined to end k on `on(k)`; 1.0 for an end without a factor.
    */
  private def attachFactors(contacts: DataFrame, factors: DataFrame,
      on: Int => org.apache.spark.sql.Column): DataFrame = {
    def end(k: Int) = broadcast(factors.as(s"__b$k"))
    contacts.join(end(1), on(1), "left").join(end(2), on(2), "left")
      .select(contacts.columns.map(c => contacts(c)) ++
        Seq(col("__b1.biasF").as("bias1"), col("__b2.biasF").as("bias2")): _*)
      .na.fill(1.0, Seq("bias1", "bias2"))
  }
}
