package org.apache.spark

import org.apache.spark.scheduler.StageInfo
import org.apache.spark.shuffle.FetchFailedException

/** Test-only access to Spark's `private[spark]` fault types: a task that
  * throws this reports a lost shuffle output, and the scheduler re-runs
  * the map stage that wrote `shuffleId` as a new stage attempt. A map
  * stage's shuffle id is read off its [[StageInfo]].
  */
object GraftFaults {
  def shuffleOf(stage: StageInfo): Option[Int] = stage.shuffleDepId

  def fetchFailed(shuffleId: Int): Throwable =
    new FetchFailedException(SparkEnv.get.blockManager.blockManagerId, shuffleId, 0L, 0, 0,
      "injected fetch failure")
}
