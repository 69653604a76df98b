package graft.streamlog

/** Read access to the S3 client's process-wide retry counters, which
  * are package-private to the stream log. */
object WireRetries {
  def total: Long =
    S3Http.throttleRetries.get() + S3Http.transportRetries.get()
}
