package graft

/** Generate a soak tier's tables without running the soak query set —
  * SpillProbe needs a corpus at a tier the full soak never timed. Env:
  * SPARK_GRAFT_SOAK_MULT, SPARK_GRAFT_SOAK_ZIPF, SPARK_GRAFT_SOAK_TABLES
  * (same semantics as graft.Soak). */
object SoakGen {
  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val mult = sys.env.getOrElse("SPARK_GRAFT_SOAK_MULT", "10").toInt
    val zipf = sys.env.get("SPARK_GRAFT_SOAK_ZIPF").contains("1")
    val out = s"target/soak/${if (zipf) "zipf_" else ""}x$mult"
    val tables = sys.env.get("SPARK_GRAFT_SOAK_TABLES")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val spark = GraftSession.local("graft-soak-gen",
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    spark.sparkContext.setLogLevel("ERROR")
    tables match {
      case Some(t) => Soak.generate(spark, base, out, mult, zipf, t)
      case None => Soak.generate(spark, base, out, mult, zipf)
    }
    println(s"""{"metric":"soak_gen","dir":"$out","mult":$mult,"zipf":$zipf}""")
    spark.stop()
  }
}
