"""Deterministic Common-Crawl-style page synthesizer.

Generates the mandated input table (url, warc_ts, html, text, lang)
(BASELINE.json ``input_hint``) at any scale, fully distributed: the
generator is a pure function of the row id (splitmix64 mixing — no RNG
state), so output is byte-identical for every row regardless of
partitioning, parallelism, run count, or scale factor.  City choice is
Zipf-skewed over a fixed list so dense urban tiles create genuinely hot
cells (the skew-handling paths are exercised, SURVEY.md §7.3).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .extract import extract_text_pd
from .textops import _splitmix64

# (name, lat, lon) — fixed public city coordinates, Zipf rank order
CITIES = [
    ("beijing", 39.928167, 116.389550), ("shanghai", 31.230416, 121.473701),
    ("newyork", 40.689247, -74.044502), ("sydney", -33.856784, 151.215297),
    ("rio", -22.951916, -43.210487), ("skagen", 57.649110, 10.407440),
    ("london", 51.507351, -0.127758), ("paris", 48.856614, 2.352222),
    ("tokyo", 35.689487, 139.691706), ("delhi", 28.613939, 77.209021),
    ("moscow", 55.755826, 37.617300), ("cairo", 30.044420, 31.235712),
    ("lagos", 6.524379, 3.379206), ("lima", -12.046374, -77.042793),
    ("toronto", 43.653226, -79.383184), ("berlin", 52.520007, 13.404954),
    ("madrid", 40.416775, -3.703790), ("rome", 41.902784, 12.496366),
    ("bangkok", 13.756331, 100.501765), ("jakarta", -6.208763, 106.845599),
    ("seoul", 37.566535, 126.977969), ("mexico", 19.432608, -99.133208),
    ("mumbai", 19.075984, 72.877656), ("saopaulo", -23.550520, -46.633309),
    ("nairobi", -1.292066, 36.821946), ("auckland", -36.848460, 174.763332),
]
LANGS = ["en", "zh", "es", "fr", "de", "pt", "ru", "ja", "ar", "hi"]
_WORDS = ("data web page city travel map local news guide info street view "
          "photo report market open source area place visit").split()


def _u01(ids: np.ndarray, stream: int) -> np.ndarray:
    """Deterministic uniform [0,1) per (row id, stream)."""
    h = _splitmix64(ids.astype(np.uint64) ^ _splitmix64(np.full(ids.shape, stream, dtype=np.uint64)))
    return (h >> np.uint64(11)).astype(np.float64) / float(1 << 53)


# Zipf CDF over city ranks (alpha = 1): weight_i = 1/(i+1)
_ZIPF_W = 1.0 / np.arange(1, len(CITIES) + 1)
_ZIPF_CDF = np.cumsum(_ZIPF_W) / _ZIPF_W.sum()
_CITY_LAT = np.array([c[1] for c in CITIES])
_CITY_LON = np.array([c[2] for c in CITIES])
_CITY_NAME = np.array([c[0] for c in CITIES])


def synth_pages_pd(ids: np.ndarray) -> pd.DataFrame:
    """Row ids -> page rows.  Pure function of id (and module constants)."""
    ids = np.asarray(ids, dtype=np.int64)
    n = ids.shape[0]
    site = _splitmix64(ids.astype(np.uint64) ^ np.uint64(101)) % np.uint64(997)
    url = pd.Series(site.astype(np.int64)).map("https://site{}.example".format) + \
        pd.Series(ids).map("/p{}".format)
    ts = (np.int64(1609459200) + (ids * np.int64(37)) % np.int64(94608000))  # 2021..2023
    lang_idx = (_splitmix64(ids.astype(np.uint64) ^ np.uint64(7)) % np.uint64(len(LANGS))).astype(np.int64)
    lang = pd.Series(np.asarray(LANGS, dtype=object)[lang_idx])

    # number of coordinate mentions: 0 (30%), 1 (40%), 2 (20%), 3 (10%)
    um = _u01(ids, 11)
    n_m = np.select([um < 0.30, um < 0.70, um < 0.90], [0, 1, 2], default=3)

    # words for the body (deterministic)
    w1 = np.asarray(_WORDS, dtype=object)[(_splitmix64(ids.astype(np.uint64) ^ np.uint64(13))
                                           % np.uint64(len(_WORDS))).astype(np.int64)]
    w2 = np.asarray(_WORDS, dtype=object)[(_splitmix64(ids.astype(np.uint64) ^ np.uint64(17))
                                           % np.uint64(len(_WORDS))).astype(np.int64)]

    # mention coordinates: Zipf city + deterministic jitter (~city extent)
    mention_html = np.full(n, "", dtype=object)
    for slot in range(3):
        has = n_m > slot
        if not np.any(has):
            continue
        u_city = _u01(ids, 100 + slot)
        city = np.searchsorted(_ZIPF_CDF, u_city, side="right")
        city = np.clip(city, 0, len(CITIES) - 1)
        jlat = (_u01(ids, 200 + slot) - 0.5) * 0.2
        jlon = (_u01(ids, 300 + slot) - 0.5) * 0.2
        lat = np.clip(_CITY_LAT[city] + jlat, -89.999999, 89.999999)
        lon = np.clip(_CITY_LON[city] + jlon, -179.999999, 179.999999)
        frag = ("<p>near " + _CITY_NAME[city].astype(object) + " at "
                + np.char.mod("%.6f", lat).astype(object) + ", "
                + np.char.mod("%.6f", lon).astype(object) + "</p>")
        mention_html = np.where(has, mention_html + frag, mention_html)

    html = ("<html><head><title>" + w1 + " " + w2
            + "</title><style>p{color:red}</style></head><body><h1>"
            + w1 + "</h1><p>" + w2 + " &amp; " + w1 + "</p>"
            + mention_html + "<script>var x=1;</script></body></html>")
    html_s = pd.Series(html, dtype=object)
    text = extract_text_pd(html_s)
    return pd.DataFrame({
        "url": url.astype(object),
        "warc_ts": pd.to_datetime(ts, unit="s"),
        "html": html_s.map(lambda s: s.encode("utf-8")),
        "text": text,
        "lang": lang,
    })


PAGES_SCHEMA = ("url string, warc_ts timestamp, html binary, text string, lang string")


def synth_pages(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Distributed synthesis: spark.range -> mapInPandas.  No driver
    materialization; scales to any n."""
    rng = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)

    def _gen(batches):
        for pdf in batches:
            yield synth_pages_pd(pdf["id"].to_numpy())

    return rng.mapInPandas(_gen, schema=PAGES_SCHEMA)


# ---------------------------------------------------------------------------
# Adversarial-skew document corpus (dedup stress)
# ---------------------------------------------------------------------------

_BP_NBLOCKS = 1024
_BP_PER_DOC = 4
# boilerplate blocks: 8 tokens each (~56 chars — far above the winnow
# k+window-1 and shingle-k minima, so every block contributes shared
# fingerprints)
_BP_BLOCKS = np.array([" ".join(f"blk{r}w{j}" for j in range(8))
                       for r in range(_BP_NBLOCKS)], dtype=object)


def synth_docs_skew_pd(ids: np.ndarray) -> pd.DataFrame:
    """Zipf-boilerplate doc batch: each doc concatenates _BP_PER_DOC
    blocks drawn LOG-UNIFORM over block rank (Zipf(1)-like: rank 0
    lands in ~ln2/ln(n_blocks) of slots, so the hottest block appears
    in ~1/3 of ALL documents — document frequency orders of magnitude
    above winnow_pairs' max_df cap) plus a unique per-doc tail.  Pure
    function of doc_id: byte-identical at any partitioning/scale."""
    ids = ids.astype(np.int64)
    text = None
    for s in range(_BP_PER_DOC):
        u = _u01(ids, 100 + s)
        rank = np.clip((_BP_NBLOCKS ** u).astype(np.int64) - 1, 0, _BP_NBLOCKS - 1)
        part = _BP_BLOCKS[rank]
        text = part if text is None else text + " " + part
    tail = pd.Series(ids).map(lambda i: f"uniq{i}a uniq{i}b uniq{i}c")
    text = pd.Series(text, dtype=object) + " " + tail
    return pd.DataFrame({"doc_id": ids, "text": text.astype(object)})


def synth_docs_skew(spark: SparkSession, n: int, partitions: int | None = None) -> DataFrame:
    """Distributed Zipf-boilerplate corpus (see synth_docs_skew_pd)."""
    rng = spark.range(0, n, 1, partitions or spark.sparkContext.defaultParallelism)

    def _gen(batches):
        for pdf in batches:
            yield synth_docs_skew_pd(pdf["id"].to_numpy())

    return rng.mapInPandas(_gen, schema="doc_id long, text string")
