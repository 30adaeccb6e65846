package graft.operators

/** The scratch-column guard every operator that writes and drops working
  * columns shares: `withColumn` silently REPLACES a caller column of the
  * same name, and the trailing `drop` then deletes it — user data loss
  * with no error. Refuse loudly instead.
  */
object Scratch {

  /** Throws `IllegalArgumentException` naming `owner` and every column
    * in `columns` that `reserved` claims.
    */
  def requireFree(owner: String, columns: Iterable[String], reserved: String => Boolean): Unit = {
    val clash = columns.filter(reserved).toSeq.distinct
    require(clash.isEmpty, s"column(s) ${clash.mkString(", ")} are reserved by $owner — rename first")
  }
}
