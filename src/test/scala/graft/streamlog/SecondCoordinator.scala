package graft.streamlog

/** Test fixture: a SEPARATE PROCESS acting as a full second
  * COORDINATOR over the signed wire — the [[FreshJvmReader]] pattern
  * widened from one executor read to the whole write-side lifecycle
  * (r17, VERDICT r16 stretch #8: the last single-JVM assumption in the
  * fleet evidence). This JVM starts with a GENUINELY EMPTY [[S3Auth]]
  * registry, registers the credentials it is handed (an operator
  * deployment's executor-startup hook), builds its own SparkSession,
  * and then against the stream it is pointed at:
  *
  *   1. claims writership (fencing whatever process held it),
  *   2. publishes an era of records,
  *   3. runs ONE REAL maintenance pass (distributed compaction +
  *      tombstone clean + orphan purge + metadata checkpoint),
  *   4. prints `CLAIMED e / PUBLISHED n / COMPACTED k / RECORDS m`
  *      for the parent to assert against.
  *
  * Everything it knows arrives via argv + the bucket; there is no
  * shared memory with the first coordinator — takeover correctness is
  * carried entirely by the metadata log's conditional writes.
  *
  * args: endpoint bucket stream accessKey secretKey [sessionToken]
  */
object SecondCoordinator {
  def main(args: Array[String]): Unit = {
    val Seq(endpoint, bucket, stream, ak, sk) = args.toSeq.take(5)
    require(S3Auth.forEndpoint(endpoint).isEmpty,
      "this fixture must start with an empty credential registry")
    S3Auth.register(endpoint, SigV4Credentials(ak, sk,
      sessionToken = args.toSeq.drop(5).headOption.filter(_.nonEmpty)))
    val spark = graft.Sessions.local(2)
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val log = new StreamLog(spark, s"s3:$endpoint/$bucket", stream)
      val epoch = log.claimWriter()
      println(s"CLAIMED $epoch")
      var t = 8800000L
      val clock = () => { t += 1; t }
      val offs = log.publish(
        (1 to 5).map(i => s"""{"era":"b","i":$i}"""), nowMs = clock)
      println(s"PUBLISHED ${offs.size}")
      val r = log.maintain(tombstoneMaxAgeMs = 0L, orphanGraceMs = 0L,
        nowMs = clock)
      println(s"COMPACTED ${r.compacted.size}")
      println(s"RECORDS ${log.consume(Offset.Beginning, 1000).size}")
      Console.out.flush()
    } finally spark.stop()
  }
}
