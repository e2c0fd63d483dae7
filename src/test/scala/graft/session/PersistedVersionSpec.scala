package graft.session

import graft.SparkSpec

/** A version above `spark.sql.autoBroadcastJoinThreshold` is persisted
  * instead of collected to the driver. No small test table reaches that
  * size, so this spec sets the bound to -1, which sends every version
  * down the persisted path, and checks that each shared session flow
  * gives the same answers there as under the default bound. */
class PersistedVersionSpec extends SparkSpec with SessionFlows {

  private val flows: Seq[(String, () => Seq[Seq[Any]])] = Seq(
    "INSERT / UPDATE / DELETE" -> (() => mutationFlow()),
    "SELECT" -> (() => selectFlow()),
    "transaction" -> (() => transactionFlow()),
    "SAVEPOINT" -> (() => savepointFlow()),
    "changes() and rowid" -> (() => changesFlow()),
    "AFTER INSERT trigger" -> (() => afterInsertTriggerFlow()),
    "UPDATE trigger" -> (() => updateTriggerFlow()),
    "RAISE(ABORT)" -> (() => raiseAbortFlow()),
    "RAISE(ROLLBACK)" -> (() => raiseRollbackFlow()),
    "per-row trigger" -> (() => perRowTriggerFlow()),
    "INSTEAD OF" -> (() => insteadOfFlow()))

  flows.foreach { case (name, flow) =>
    test(s"$name flow answers the same with every version persisted") {
      val driverResident = flow()
      assert(withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1")(flow()) == driverResident)
    }
  }
}
