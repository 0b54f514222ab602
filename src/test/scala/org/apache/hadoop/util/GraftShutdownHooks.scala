package org.apache.hadoop.util

import scala.jdk.CollectionConverters._

/** Test shim: [[ShutdownHookManager]] keeps its registered hooks and
  * their priorities package-private, but [[graft.ScratchSpec]] must read
  * the priority Spark actually registers its shutdown hook at. */
object GraftShutdownHooks {

  /** (hook class name, priority) of every registered hook, in run order. */
  def inRunOrder: Seq[(String, Int)] =
    ShutdownHookManager.get().getShutdownHooksInOrder.asScala.toSeq
      .map(e => (e.getHook.getClass.getName, e.getPriority))
}
