"""Long-lived-session heap hygiene: trim the app-status KVStore between
queries.

Round 9 measured ~4-5 MB/query of post-GC JVM residue in a BARE session
(default 1 GiB heap, default UI retention), OOMing a full sf0.1 board run
near query ~55 (LOCALGATE_r09.json). The residue is the live-UI
ElementTrackingStore: every query leaves TaskDataWrapper /
StageDataWrapper / JobDataWrapper / SQLExecutionUIData (+ plan graphs,
per-stage executor summaries) entries that the listeners only evict past
the retention caps (1000 jobs / 1000 stages / 100k tasks / 1000 SQL
executions) — caps a 206-query board never reaches per-type fast enough,
while their sum exhausts a small heap. The caps are read at listener
construction, so a session the engine did NOT create (the driver's
vanilla session) cannot be fixed by conf.

``trim_status_store`` therefore deletes completed-query status entries
directly through the public KVStore API
(ElementTrackingStore.removeAllByIndexValues) — the call the listeners'
own cleanup paths use, just not gated on the retention caps. It runs between
queries (wired into plans/queries.py::_hygienic), when the previous
query's executions/jobs/stages are complete and hence no longer in any
listener's live map (entries still live would be re-written on the next
event, which is why trimming mid-query would be both racy and useless).

py4j round trips are the cost (each ~0.1-0.3 ms), so:
  * the Class objects, natural-key accessors and JVM helpers are looked
    up once per py4j gateway (``_handles``);
  * id-keyed wrappers (jobs and operation graphs: int; SQL executions
    and plan graphs: long) are deleted with ONE removeAllByIndexValues
    over the id range the store holds, formed in the JVM
    (``IntStream``/``LongStream.rangeClosed(first, last).boxed()``). The
    stream matches the key type, which matters: an Integer never equals
    a Long-keyed entry;
  * stage natural keys are int[2] (stageId, attemptId); they are read
    through the KVTypeInfo accessor and passed back unchanged as the
    "stage" index values of the task/summary/quantile wrappers and as
    the stages' own natural keys, one bulk call per class.

Best-effort by contract: every step is exception-guarded, the function
never raises, and $SPARK_GRAFT_NO_STATUS_TRIM=1 disables it. What is
left per stage is three py4j calls to collect its key; every class costs
one count when empty and three more calls when not. At 100 TB this
concern is driver-only and identical: status retention is sized
per-application, not per-data."""

from __future__ import annotations

import os
from types import SimpleNamespace

_ID_KEYED = (
    # natural key is an int or long id
    "org.apache.spark.status.JobDataWrapper",
    "org.apache.spark.status.RDDOperationGraphWrapper",
    "org.apache.spark.sql.execution.ui.SQLExecutionUIData",
    "org.apache.spark.sql.execution.ui.SparkPlanGraphWrapper",
)
_STAGE_INDEXED = (
    # bulk-delete by the "stage" index using the stage int[2] keys
    "org.apache.spark.status.TaskDataWrapper",
    "org.apache.spark.status.ExecutorStageSummaryWrapper",
    "org.apache.spark.status.CachedQuantile",
    "org.apache.spark.status.SpeculationStageSummaryWrapper",
)
_STAGE_CLS = "org.apache.spark.status.StageDataWrapper"

#: (py4j gateway, handles); see _handles
_HANDLES: tuple | None = None


def _handles(spark) -> SimpleNamespace:
    """The JVM objects a trim uses, looked up once per py4j gateway and
    again when the gateway restarts. A class that does not load is left
    out."""
    global _HANDLES
    gw = spark.sparkContext._gateway
    if _HANDLES is None or _HANDLES[0] is not gw:
        jvm = spark._jvm
        stream = jvm.java.util.stream

        def load(name):
            try:
                cls = jvm.java.lang.Class.forName(name)
                key = jvm.org.apache.spark.util.kvstore.KVTypeInfo(cls).getAccessor("__main__")
                return name.rsplit(".", 1)[1], cls, key
            except Exception:
                return None

        ids = []
        for short, cls, key in filter(None, map(load, _ID_KEYED)):
            int_key = key.getType().getName() in ("int", "java.lang.Integer")
            ids.append((short, cls, key, stream.IntStream if int_key else stream.LongStream))
        _HANDLES = (
            gw,
            SimpleNamespace(
                stage=load(_STAGE_CLS),
                stage_indexed=[h[:2] for h in filter(None, map(load, _STAGE_INDEXED))],
                ids=ids,
                to_list=stream.Collectors.toList(),
                iterables=jvm.com.google.common.collect.Iterables,
                lists=jvm.com.google.common.collect.Lists,
                array_list=jvm.java.util.ArrayList,
            ),
        )
    return _HANDLES[1]


def trim_status_store(spark) -> dict[str, int] | None:
    """Delete completed-query status-store entries; returns the per-class
    deleted counts (or None when disabled/unavailable). Call ONLY between
    queries — entries of an in-flight execution are live and would be
    re-written by the listener on its next event."""
    if os.environ.get("SPARK_GRAFT_NO_STATUS_TRIM"):
        return None
    try:
        h = _handles(spark)
        store = spark.sparkContext._jsc.sc().statusStore().store()
    except Exception:
        return None

    deleted: dict[str, int] = {}

    def bulk_delete(short, cls, index, values):
        """One removeAllByIndexValues over ``values()``, skipped on an
        empty class; records the exact number of entries it removed."""
        try:
            n = store.count(cls)
            if n:
                store.removeAllByIndexValues(cls, index, values())
                n -= store.count(cls)
            deleted[short] = n
        except Exception:
            pass

    # 1) stage keys first: they drive the bulk task/summary deletion
    if h.stage is not None:
        short, stage_cls, stage_key = h.stage
        try:
            stages = h.lists.newArrayList(store.view(stage_cls))
            keys = h.array_list()
            for i in range(stages.size()):
                keys.add(stage_key.get(stages.get(i)))
        except Exception:
            pass
        else:
            for name, cls in h.stage_indexed:
                bulk_delete(name, cls, "stage", lambda: keys)
            bulk_delete(short, stage_cls, "__main__", lambda: keys)

    # 2) id-keyed wrappers: one bulk call over the id range in the store
    for short, cls, key, id_stream in h.ids:

        def id_range(cls=cls, key=key, id_stream=id_stream):
            view = store.view(cls)
            first = key.get(h.iterables.getFirst(view, None))
            last = key.get(h.iterables.getLast(view))
            return id_stream.rangeClosed(first, last).boxed().collect(h.to_list)

        bulk_delete(short, cls, "__main__", id_range)

    return deleted
