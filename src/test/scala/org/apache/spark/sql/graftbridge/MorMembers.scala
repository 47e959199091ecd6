package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.connector.read.InputPartition

/** Test view of a merge-on-read partition: one entry per member file (or
  * split) in the order its task reads them. */
object MorMembers {

  /** A member's qualified file path and split range. */
  final case class Member(path: String, start: Long, length: Long)

  def apply(p: InputPartition): Seq[Member] = {
    val m = p.asInstanceOf[ScanBridge.MorFilePartition]
    m.underlying.files.toSeq.map(f => Member(f.filePath.toString, f.start, f.length))
  }
}
