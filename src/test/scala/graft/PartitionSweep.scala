package graft

/** ON-DEMAND diagnostic (ignored by default, ~9 min — DeterminismSpec
  * keeps the 19 representative risky shapes in the always-on suite):
  * EVERY oracle-backed catalog entry's collected output must be
  * bit-identical under different shuffle-partition counts. The driver
  * gate runs at one fixed parallelism, so layout-dependence passes the
  * oracle and breaks at cluster parallelism — this sweep is the
  * catalog-wide form of that check. Exclusions: m* ML entries
  * (training is legitimately layout-sensitive) and the sketch/sample
  * no-oracle allowlist (engine-specific values by design). Any diff
  * found here is either a real layout bug (the PrefixScan boundary class)
  * or the q63 FP-midpoint rounding class — both worth a targeted fix.
  * Ran clean over all 315 oracle-backed entries on the round-12 tree
  * at BOTH sf0.001 and sf0.01 (SWEEP_SF_DIR selects the fixture; the
  * FP-midpoint class is data-dependent, so the 10x run matters).
  */
class PartitionSweep extends SparkSpec {
  ignore("all oracle-backed entries are shuffle-partition invariant") {
    // SWEEP_SF_DIR widens the data (FP-midpoint divergence is
    // data-dependent); defaults to sf0.001
    val sweepDir = sys.env.getOrElse("SWEEP_SF_DIR", sf0001)
    val conf = spark.conf
    val saved = conf.get("spark.sql.shuffle.partitions")
    val entries = queries.Catalog.all.toSeq
      .filter { case (n, spec) => spec.oracle.nonEmpty && n.startsWith("q") }
      .sortBy(_._1)
    def runAll(parts: String): Map[String, Either[String, Seq[String]]] = {
      conf.set("spark.sql.shuffle.partitions", parts)
      try entries.map { case (n, spec) =>
        queries.Catalog.clearCaches(spark)
        n -> scala.util.Try(spec.fn(spark, sweepDir)
            .collect().map(_.toString).toSeq)
          .toEither.left.map(e => String.valueOf(e.getMessage).take(120))
      }.toMap
      finally conf.set("spark.sql.shuffle.partitions", saved)
    }
    try {
      val at3 = runAll("3")
      val at7 = runAll("7")
      val bad = entries.map(_._1).flatMap { n =>
        (at3(n), at7(n)) match {
          case (Left(e), _) => Some(s"$n: failed at 3 partitions: $e")
          case (_, Left(e)) => Some(s"$n: failed at 7 partitions: $e")
          case (Right(a), Right(b)) if a != b =>
            val first = a.zip(b).find { case (x, y) => x != y }
              .orElse(Some((s"${a.size} rows", s"${b.size} rows")))
            Some(s"$n: differs across partition counts at $first")
          case _ => None
        }
      }
      assert(bad.isEmpty,
        bad.mkString("partition-variant entries:\n  ", "\n  ", ""))
    } finally {
      conf.set("spark.sql.shuffle.partitions", saved)
      queries.Catalog.clearCaches(spark)
    }
  }
}
