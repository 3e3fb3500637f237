package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev-only stage profiler for the heavy pipeline queries. */
object DevProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    def t[A](name: String)(f: => A): A = {
      val t0 = System.nanoTime()
      val r = f
      println(f"PROFILE $name ${(System.nanoTime() - t0) / 1e9}%.2f s")
      r
    }

    import graft.hic._
    val c = t("contactsView build+count") {
      val x = ContactsView(spark, dir); x.count(); x
    }
    val contacts = c.select(col("chr").as("chr1"), col("mid1"),
      col("chr").as("chr2"), col("mid2"), col("contactCount"))
    val frags = t("frags marginals") {
      val f = c.select(col("chr"), col("mid1").as("mid"), col("contactCount"))
        .unionByName(c.select(col("chr"), col("mid2").as("mid"),
          col("contactCount")))
        .groupBy("chr", "mid").agg(sum(col("contactCount")).as("hitCount"))
      f.count(); f
    }
    val L = HicQueries.L
    val U = HicQueries.U
    val loci = Fragments.loci(frags)
    val chroms = t("possiblePairsWithChroms") {
      Fragments.possiblePairsWithChroms(loci, L, U).chroms
    }
    val classified = t("classify+filter+persist") {
      val x = Contacts.classify(Contacts.bothEndsMappable(
          Contacts.withLocusKeys(contacts, chroms),
          Contacts.keyedByLocus(loci, chroms)), L, U)
        .filter(col("cls") === "intraInRange")
        .withColumn("bias1", lit(1.0)).withColumn("bias2", lit(1.0))
        .persist()
      x.count(); x
    }
    val n = t("n agg") {
      classified.agg(sum(col("contactCount"))).first().getLong(0)
    }
    val bins = t("equalOccupancy collect") {
      Binning.collectBins(classified, 100,
        Seq("chr1", "mid1", "chr2", "mid2"))
    }
    println(s"PROFILE bins=${bins.length} n=$n")
    val scored = t("prior+binom build") {
      val (xs, _, fit) = Spline.fitFromBins(bins, n)
      graft.functions.BinomSf.register(spark)
      val curve = Spline.interpUdf(xs, fit)
      classified.withColumn("prior", curve(col("dist").cast("double")))
        .withColumn("p_value", expr(s"binom_sf(contactCount, ${n}L, prior)"))
    }
    val q = t("bhQ build+count") {
      val x = Stats.bhQ(scored, "p_value",
        Seq("chr1", "mid1", "chr2", "mid2"), "q_value", Some(1000000L))
      x.count(); x
    }
    t("full recount") { q.count() }
    spark.stop()
  }
}
