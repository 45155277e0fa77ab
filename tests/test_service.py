"""Compat service façade: byte-exact endpoint responses vs the
reference's text_post_handler (main.cpp:304-472) on the readme flow."""

import pytest

from geotile.service import GeoService


@pytest.fixture()
def svc(spark):
    s = GeoService(spark, capacity=1000000)
    # LoadModuleData seeds (LoadModule.cpp:27-35)
    assert s.add("13661201024", 39.928167, 116.389550, 1486447000) == '{"success":"0"}'
    assert s.add("13661201025", 39.928167, 116.389550, 1486447000) == '{"success":"0"}'
    return s


def test_validation_errors(svc):
    assert svc.add("", 1.0, 1.0, 1) == '{"error":"1"}'
    assert svc.add("x", 0.0, 1.0, 1) == '{"error":"1"}'
    assert svc.search(0.0, 116.0, 100.0) == '{"error":"1"}'
    assert svc.delete("") == '{"error":"1"}'
    assert svc.delete("nosuch") == '{"error":"2"}'


def test_readme_flow_byte_exact(svc):
    # readme.md:34-45: Add -> Search -> Delete -> re-Search
    assert svc.add("13412345637", 39.928667, 116.389550, 1486447081) == '{"success":"0"}'
    got = svc.search(39.928367, 116.389550, 100000.0)
    expect = ("{"
              '"Msisdn":"13661201024","Latitude":"39.928167","Longitude":"116.389550","CurrTime":"1486447000",'
              '"Msisdn":"13661201025","Latitude":"39.928167","Longitude":"116.389550","CurrTime":"1486447000",'
              '"Msisdn":"13412345637","Latitude":"39.928667","Longitude":"116.389550","CurrTime":"1486447081"'
              "}")
    assert got == expect
    assert svc.delete("13412345637") == '{"success":"0"}'
    got2 = svc.search(39.928367, 116.389550, 100000.0)
    assert '"Msisdn":"13412345637"' not in got2
    assert got2.startswith("{") and got2.endswith("}")


def test_search_empty_result_is_bare_brace(svc):
    # a valid query with no candidate cells / matches returns retBuf
    # after the loop never ran: the bare "{" (main.cpp:349)
    assert svc.search(-33.856784, 151.215297, 5000.0) == "{"


def test_pool_state_format(svc):
    got = svc.pool()
    assert got == ('{"PoolName":"Pos_Pool","Used":"2","Free":"999998","All":"1000000",'
                   '"PoolName":"Area_Pool","Used":"1","Free":"999999","All":"1000000",'
                   '"PoolName":"PosLink_Pool","Used":"2","Free":"999998","All":"1000000"}')


def test_upsert_migration_via_service(svc):
    assert svc.add("13661201024", 31.230416, 121.473701, 1486448000) == '{"success":"0"}'
    beijing = svc.search(39.928167, 116.389550, 10000.0)
    assert '"Msisdn":"13661201024"' not in beijing
    assert '"Msisdn":"13661201025"' in beijing
    shanghai = svc.search(31.230416, 121.473701, 10000.0)
    assert '"Msisdn":"13661201024"' in shanghai


def test_mutations_keep_one_persisted_snapshot(spark):
    """Each add/delete replaces the snapshot instead of caching on top
    of it: twelve adds leave at most one more persisted RDD."""
    jsc = spark.sparkContext._jsc
    s = GeoService(spark)
    before = jsc.getPersistentRDDs().size()
    for i in range(12):
        assert s.add(f"1390000{i:04d}", 39.928167 + i * 1e-4, 116.389550,
                     1486447000 + i) == '{"success":"0"}'
    assert jsc.getPersistentRDDs().size() - before <= 1
    assert s.search(39.928167, 116.389550, 100000.0).count('"Msisdn"') == 12
    assert s.delete("13900000003") == '{"success":"0"}'
    assert jsc.getPersistentRDDs().size() - before <= 1
    assert s.search(39.928167, 116.389550, 100000.0).count('"Msisdn"') == 11
