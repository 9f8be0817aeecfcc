package org.apache.spark

import java.nio.file.Files
import org.apache.spark.util.Utils

/** Runs a body with the context's checkpoint directory set to a fresh
  * temporary directory, so `graft.ext.Pin` takes its reliable posture,
  * then puts the directory back and deletes the files. No public API can
  * clear a SparkContext's checkpoint directory (`checkpointDir` is
  * package-private), and every suite shares one session: without the
  * reset, each later suite would pin reliably too.
  */
object ReliableCheckpoint {
  def apply[A](sc: SparkContext)(body: => A): A = {
    val prev = sc.checkpointDir
    val root = Files.createTempDirectory("graft-ckpt").toFile
    sc.setCheckpointDir(root.getPath)
    try body
    finally {
      sc.checkpointDir = prev
      Utils.deleteRecursively(root)
    }
  }
}
