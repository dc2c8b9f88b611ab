"""Reading a job group's stages back from Spark's status store."""


def stage_input_records(spark, group):
    """{stage id: input records} of the stages of ``group``'s jobs.

    Past ``spark.ui.retainedStages`` the status store evicts finished
    stages, skipped ones first (they have no completion time), so a long
    session can lose some of a group's stages. A lost stage counts 0
    records; a job listing it must have skipped it, so it read nothing.
    Concurrent jobs share a stage, and only the first of them to end
    records it as skipped. A lost stage that no job skipped fails the
    call."""
    sc = spark.sparkContext
    tracker, store, gw = sc.statusTracker(), sc._jsc.sc().statusStore(), sc._gateway
    job_data = gw.jvm.java.lang.Class.forName("org.apache.spark.status.JobDataWrapper")
    listed = {job: list(tracker.getJobInfo(job).stageIds)
              for job in tracker.getJobIdsForGroup(group)}
    data = {sid: store.stageData(sid, False, gw.jvm.java.util.ArrayList(), False,
                                 gw.new_array(gw.jvm.double, 0))
            for sids in listed.values() for sid in sids}
    lost = {sid for sid, d in data.items() if d.isEmpty()}
    for job, sids in listed.items():
        if lost:
            skipped = store.store().read(job_data, job).skippedStages()
            lost -= {sid for sid in sids if skipped.contains(sid)}
    assert not lost, f"the status store lost stages that ran: {sorted(lost)}"
    return {sid: 0 if d.isEmpty() else d.apply(0).inputRecords() for sid, d in data.items()}
