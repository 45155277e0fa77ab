"""Compat service façade: the reference's four endpoints as a batch
API, byte-exact responses.

Replicates ``text_post_handler`` (/root/reference/main.cpp:304-472) so
a user of the reference can drive the same Add/Search/Delete/Pool flows
against the Spark engine:

* request validation: Search needs lat/lon/radius all != 0.0 else
  ``{"error":"1"}`` (main.cpp:339,386); Add needs nonempty msisdn and
  lat/lon/time != 0 (main.cpp:414,428); Delete needs nonempty msisdn
  (main.cpp:442,456);
* Search response: ``{`` + comma-joined ``"Msisdn":"%s","Latitude":
  "%f","Longitude":"%f","CurrTime":"%ld"`` rows + ``}`` — the
  reference's (technically invalid JSON) concatenation, main.cpp:29,
  349-376; an empty result is the bare ``{`` (retBuf after the loop
  never ran);
* rows come back in per-cell insertion (FIFO) order — postings append
  at the list tail (common.h:244-264);
* Pool response: three ``PoolName/Used/Free/All`` segments against the
  fixed capacity (mapinfo.cpp:473-497; DEFAULT_POOL_SIZE main.cpp:25).

State lives in a Spark DataFrame (cell column derived, 12-bit compat
encoding); each mutation produces a new immutable snapshot — the
engine's replacement for in-place shm mutation under rwlocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import engine

DEFAULT_POOL_SIZE = 1000000  # main.cpp:25

_STATE_SCHEMA = "msisdn string, lat double, lon double, ts long, seq long"


class GeoService:
    def __init__(self, spark: SparkSession, capacity: int = DEFAULT_POOL_SIZE):
        self.spark = spark
        self.capacity = capacity
        self._seq = 0
        # Driver-side key mirror: this façade is the ONLY writer, and
        # upsert (LWW) / delete keep exactly one row per msisdn — so a
        # set of live keys gives exact Used counts and existence checks
        # without running a Spark count() job per HTTP call (the
        # reference answers these from its in-shm hash the same way).
        self._keys: set[str] = set()
        self.state: DataFrame = engine.with_cell_ref(
            spark.createDataFrame([], _STATE_SCHEMA))

    # -- /GeoHash/Add/ ------------------------------------------------
    def add(self, msisdn: str, latitude: float, longitude: float, time: int) -> str:
        if not msisdn or latitude == 0.0 or longitude == 0.0 or time == 0:
            return '{"error":"1"}'
        if len(self._keys) >= self.capacity:
            return '{"error":"2"}'  # pool exhausted (AddPos false)
        self._seq += 1
        update = engine.with_cell_ref(self.spark.createDataFrame(
            [(msisdn, float(latitude), float(longitude), int(time), self._seq)],
            _STATE_SCHEMA))
        # LWW on msisdn; ties (same ts) resolved toward the update
        self._commit(engine.upsert_positions(self.state, update,
                                             key="msisdn", ts="ts"))
        self._keys.add(msisdn)
        return '{"success":"0"}'

    # -- /GeoHash/Search/ ----------------------------------------------
    def search(self, latitude: float, longitude: float, radius: float) -> str:
        if latitude == 0.0 or longitude == 0.0 or radius == 0.0:
            return '{"error":"1"}'
        found = engine.radius_search_compat(self.state, latitude, longitude, radius)
        rows = found.orderBy(F.col("seq").asc()).collect()  # FIFO posting order
        body = ",".join(
            '"Msisdn":"%s","Latitude":"%f","Longitude":"%f","CurrTime":"%ld"'
            % (r["msisdn"], r["lat"], r["lon"], r["ts"]) for r in rows)
        return "{" + (body + "}" if rows else "")

    # -- /GeoHash/Delete/ ----------------------------------------------
    def delete(self, msisdn: str) -> str:
        if not msisdn:
            return '{"error":"1"}'
        if msisdn not in self._keys:
            return '{"error":"2"}'  # DelPos false on missing key
        keys = self.spark.createDataFrame([(msisdn,)], "msisdn string")
        self._commit(engine.delete_positions(self.state, keys))
        self._keys.discard(msisdn)
        return '{"success":"0"}'

    def _commit(self, state: DataFrame) -> None:
        """Swap in ``state``, materialized with its lineage cut, and free the
        snapshot it replaces: one persisted snapshot, however many mutations."""
        old, self.state = self.state, state.localCheckpoint(eager=True)
        plan = old._jdf.queryExecution().analyzed()
        if plan.getClass().getSimpleName() == "LogicalRDD":  # a checkpoint
            plan.rdd().unpersist(False)

    # -- /GeoHash/Pool/ ------------------------------------------------
    def pool(self) -> str:
        st = engine.pool_state(self.state).collect()[0]
        cap = self.capacity
        seg = ('"PoolName":"%s","Used":"%d","Free":"%d","All":"%d"')
        return ("{" + seg % ("Pos_Pool", st["pos_used"], cap - st["pos_used"], cap)
                + "," + seg % ("Area_Pool", st["area_used"], cap - st["area_used"], cap)
                + "," + seg % ("PosLink_Pool", st["link_used"], cap - st["link_used"], cap)
                + "}")
