"""Deterministic synthetic data generator for the graft input tables.

Produces the Common-Crawl-style pages table (``url, warc_ts, html:binary,
text, lang`` — BASELINE.json input_hint) plus the dimension tables that
replace the reference's network sources (FIXTURES.md §2):

* ``assets``        — replaces the DANDI-API dimension
  (reference ``_map_binned_s3_logs_to_dandisets.py:65-164``)
* ``cidr_ranges``   — replaces the GitHub/AWS/GCP/VPN CIDR fetches
  (reference ``_ip_utils.py:118-189``), pre-converted to long bounds
* ``ip_region_cache`` / ``geo_fallback`` — replace the YAML ip-hash cache
  and the ipinfo geo service (reference ``_ip_utils.py:192-221, 84-115``)
* ``excluded_ips``  — replaces the excluded-ips hash map
  (reference ``_s3_log_file_reducer.py:29``)

Every byte is a deterministic function of (seed, n_pages): a single
seeded numpy Generator drives all draws in a fixed order, on the driver,
so output is independent of Spark parallelism.  Pages are built by one
vectorized builder, :func:`_build_page_chunk`, shared with the
distributed :func:`generate_pages_spark`.

The ``html`` payload's first line is an S3-access-log-style record in the
exact 26-field format of the reference fixtures (see
``tests/test_reduction/examples/reduction_example_0/raw_logs``); the rest
of the payload is the body whose extraction must equal ``text``
byte-for-byte.  A fixed minority of rows is malformed in the ways
``reduction_example_2`` exercises (unescaped quotes in user_agent,
non-2xx statuses, unknown operations, ``bytes_sent="-"``, non-routable
object keys).
"""

from __future__ import annotations

import hashlib
import ipaddress
from dataclasses import dataclass, field

import numpy as np
import pandas as pd

from .config import TEST_IP_HASH_SALT

FIXED_DAYS = ("2024-03-01", "2024-03-02", "2024-03-03", "2024-03-04", "2024-03-05")

_EN_WORDS = (
    "the data spark table query join scan filter shuffle partition key value "
    "row column batch stream window agg fast slow small large file page text "
    "web crawl index token model train to of and in is it for on with that"
).split()
_DE_WORDS = (
    "der die das und ist nicht mit ein eine zu den von im auf als auch sich "
    "daten tabelle anfrage spalte zeile datei seite netz modell"
).split()

# (service, cidr, subregion) — service order = reference precedence order
# (_globals.py:109 _KNOWN_SERVICES = GitHub, AWS, GCP, VPN)
_CIDR_SPECS = (
    ("GitHub", "140.82.112.0/20", None),
    ("GitHub", "143.55.64.0/20", None),
    ("AWS", "3.5.0.0/16", "us-east-2"),
    ("AWS", "18.32.0.0/11", "us-east-1"),
    ("GCP", "34.2.0.0/15", "us-central1"),
    ("GCP", "35.192.0.0/14", "us-east1"),
    ("VPN", "185.230.124.0/23", None),
)

_GEO_REGIONS = ("US/California", "US/New York", "DE/Berlin", "JP/Tokyo", "IN/Karnataka")

N_BLOBS = 40
N_ZARRS = 8
# share of pages whose user agent carries an unescaped quote
MALFORMED_FRAC = 0.015
# rows per RNG chunk of generate_pages_spark
PAGE_CHUNK = 8192


def ip_to_long(ip: str) -> int:
    return int(ipaddress.ip_address(ip))


def sha1_ip_hash(ip: str, salt: str = TEST_IP_HASH_SALT) -> str:
    """Salted anonymization hash (reference ``_ip_utils.py:48``)."""
    return hashlib.sha1(ip.encode("utf-8") + salt.encode("utf-8")).hexdigest()


@dataclass
class SyntheticTables:
    pages: pd.DataFrame
    assets: pd.DataFrame
    cidr_ranges: pd.DataFrame
    ip_region_cache: pd.DataFrame
    geo_fallback: pd.DataFrame
    excluded_ips: pd.DataFrame
    expected: dict = field(default_factory=dict)


def _make_ip_pool(rng: np.random.Generator) -> tuple[list[str], dict[str, str]]:
    """IP pool spanning every enrichment branch; returns (ips, kind-by-ip)."""
    pool: list[str] = []
    kinds: dict[str, str] = {}

    def add(ips, kind):
        for ip in ips:
            pool.append(ip)
            kinds[ip] = kind

    add([f"140.82.{112 + int(rng.integers(16))}.{int(rng.integers(256))}" for _ in range(6)], "GitHub")
    add([f"3.5.{int(rng.integers(256))}.{int(rng.integers(256))}" for _ in range(10)], "AWS")
    add([f"34.{2 + int(rng.integers(2))}.{int(rng.integers(256))}.{int(rng.integers(256))}" for _ in range(8)], "GCP")
    add([f"185.230.{124 + int(rng.integers(2))}.{int(rng.integers(256))}" for _ in range(4)], "VPN")
    add([f"73.{int(rng.integers(256))}.{int(rng.integers(256))}.{int(rng.integers(256))}" for _ in range(10)], "geo")
    add([f"192.0.2.{i}" for i in range(8)], "unknown")
    return pool, kinds


def _make_assets(rng: np.random.Generator, n_blobs: int, n_zarrs: int) -> pd.DataFrame:
    def hexid(n=32):
        return "".join(rng.choice(list("0123456789abcdef"), size=n))

    rows = []
    dandisets = [f"{100000 + i}"[-6:] for i in range(4)]
    for i in range(n_blobs):
        h = hexid()
        blob_key = f"blobs/{h[:3]}/{h[3:6]}/{h}"
        ds = dandisets[int(rng.integers(len(dandisets)))]
        rows.append((blob_key, False, ds, "draft", f"sub-{i:03d}/sub-{i:03d}_ses-01.nwb"))
        if i % 7 == 0:  # one blob shared by two versions (rollup case, J6)
            rows.append((blob_key, False, ds, "0.240101.0000", f"sub-{i:03d}/sub-{i:03d}_ses-01.nwb"))
    for i in range(n_zarrs):
        h = hexid()
        zarr_key = f"zarr/{h[:8]}-{h[8:12]}-{h[12:16]}-{h[16:20]}-{h[20:32]}"
        ds = dandisets[int(rng.integers(len(dandisets)))]
        rows.append((zarr_key, True, ds, "draft", f"sub-z{i:03d}/sub-z{i:03d}_ome.zarr"))
    return pd.DataFrame(
        rows, columns=["blob_key", "is_zarr", "dandiset_id", "version_id", "asset_path"]
    )


def _page_keys(assets: pd.DataFrame) -> tuple[list[str], list[str]]:
    """(blob keys, zarr keys) of the asset dimension, in table order; the
    first zarr key is the hot one."""
    keys = assets["blob_key"].unique()
    return (
        [k for k in keys if k.startswith("blobs/")],
        [k for k in keys if k.startswith("zarr/")],
    )


def generate(n_pages: int = 2000, seed: int = 42) -> SyntheticTables:
    """Dimension tables plus ``n_pages`` pages, all from one RNG.

    The dimension tables are drawn first, so they depend on the seed
    only: ``generate(0, seed)`` gives the same dimensions as any larger
    ``n_pages``, which is what :func:`generate_pages_spark` relies on."""
    rng = np.random.default_rng(seed)
    ips, ip_kinds = _make_ip_pool(rng)
    assets = _make_assets(rng, N_BLOBS, N_ZARRS)

    # ---- dimension tables -------------------------------------------------
    cidr_rows = []
    for precedence, (service, cidr, subregion) in enumerate(_CIDR_SPECS):
        net = ipaddress.ip_network(cidr)
        cidr_rows.append(
            (
                service,
                cidr,
                subregion,
                int(net.network_address),
                int(net.broadcast_address),
                precedence,
            )
        )
    cidr_ranges = pd.DataFrame(
        cidr_rows,
        columns=["service", "cidr", "subregion", "net_start", "net_end", "precedence"],
    )

    # cache: covers a few ips, INCLUDING one AWS-range ip cached to a
    # different region (cache precedence over CIDR, _ip_utils.py:50-53)
    cache_ips = [ip for ip in ips if ip_kinds[ip] == "AWS"][:2] + [
        ip for ip in ips if ip_kinds[ip] == "geo"
    ][:3]
    cache_rows = [(sha1_ip_hash(cache_ips[0]), "Universities/Cached")]
    cache_rows += [
        (sha1_ip_hash(ip), f"Cached/{_GEO_REGIONS[i % len(_GEO_REGIONS)]}")
        for i, ip in enumerate(cache_ips[1:])
    ]
    ip_region_cache = pd.DataFrame(cache_rows, columns=["ip_hash", "region"])

    geo_ips = [ip for ip in ips if ip_kinds[ip] == "geo"]
    geo_fallback = pd.DataFrame(
        [
            (sha1_ip_hash(ip), _GEO_REGIONS[i % len(_GEO_REGIONS)])
            for i, ip in enumerate(geo_ips)
        ],
        columns=["ip_hash", "region"],
    )

    excluded = [ips[1], ips[11]]
    excluded_ips = pd.DataFrame({"ip_address": excluded})

    # ---- pages: the same RNG, after every dimension draw ------------------
    blob_list, zarr_list = _page_keys(assets)
    pages = _build_page_chunk(rng, n_pages, blob_list, zarr_list, ips)
    return SyntheticTables(
        pages=pages,
        assets=assets,
        cidr_ranges=cidr_ranges,
        ip_region_cache=ip_region_cache,
        geo_fallback=geo_fallback,
        excluded_ips=excluded_ips,
        expected={"hot_zarr": zarr_list[0], "ips": ips, "ip_kinds": ip_kinds},
    )


def _build_page_chunk(
    rng: np.random.Generator,
    n: int,
    blob_list: list,
    zarr_list: list,
    ips: list,
) -> pd.DataFrame:
    """Vectorized construction of ``n`` deterministic pages: the one page
    builder behind both :func:`generate` and :func:`generate_pages_spark`.

    Traffic skew: 45% of rows go to ONE zarr key (README.md:65 zarr-vs-blob
    skew analog), 10% to a uniformly drawn zarr key, the rest to blobs,
    plus 1% orphan keys that exist in no asset (inner-join drop case, J1)
    and 0.5% non-routable keys.  Op/status mix, ``-`` bytes and
    unescaped-quote user agents follow ``reduction_example_2``."""
    hot_zarr = zarr_list[0]
    r = rng.random(n)
    base_keys = np.array(blob_list, dtype=object)[rng.integers(0, len(blob_list), size=n)]
    other_zarr = np.array(zarr_list, dtype=object)[rng.integers(0, len(zarr_list), size=n)]
    zarr_mask = r < 0.55
    base_keys[zarr_mask] = other_zarr[zarr_mask]
    base_keys[r < 0.45] = hot_zarr
    base_keys[rng.random(n) < 0.01] = "blobs/fff/fff/ffffffffffffffffffffffffffffffff"

    day_idx = rng.integers(0, len(FIXED_DAYS), size=n)
    secs = rng.integers(0, 86400, size=n)
    ts = pd.to_datetime(np.array(FIXED_DAYS, dtype="datetime64[s]")[day_idx]) + pd.to_timedelta(secs, unit="s")
    ip_arr = np.array(ips, dtype=object)[rng.integers(0, len(ips), size=n)]

    op_r = rng.random(n)
    ops = np.full(n, "REST.GET.OBJECT", dtype=object)
    ops[op_r > 0.95] = "REST.PUT.OBJECT"
    ops[op_r > 0.98] = "REST.HEAD.OBJECT"
    ops[op_r > 0.995] = "TOTALLY.UNKNOWN.OP"

    st_r = rng.random(n)
    statuses = np.full(n, "200", dtype=object)
    statuses[st_r > 0.70] = "206"
    statuses[st_r > 0.90] = "304"
    statuses[st_r > 0.95] = "404"
    statuses[st_r > 0.98] = "403"

    byte_vals = rng.integers(64, 5_000_000, size=n)
    bytes_raw = byte_vals.astype(str).astype(object)
    bytes_raw[(rng.random(n) < 0.03) | np.isin(statuses, ["304"])] = "-"
    base_keys[rng.random(n) < 0.005] = "favicon.ico"
    malformed_mask = rng.random(n) < MALFORMED_FRAC

    lang_arr = np.where(rng.random(n) < 0.8, "en", "de")
    n_words = rng.integers(20, 120, size=n)
    suffix_choices = rng.integers(0, 10, size=(n, 4))
    word_idx = rng.integers(0, 10_000, size=int(n_words.sum()))

    # fully vectorized string assembly (pandas str concat / numpy word
    # gather): per-row Python f-strings capped generation at ~20k
    # rows/s, an order of magnitude under what the scaling-bench input
    # sizes need
    keys = pd.Series(base_keys, dtype=object)
    zmask = keys.str.startswith("zarr/")
    suffix = pd.Series(
        np.char.add(
            np.char.add(
                np.char.add("/", suffix_choices[:, 0].astype(str)),
                np.char.add("/", suffix_choices[:, 1].astype(str)),
            ),
            np.char.add(
                np.char.add("/", suffix_choices[:, 2].astype(str)),
                np.char.add("/", suffix_choices[:, 3].astype(str)),
            ),
        ),
        dtype=object,
    )
    full_keys = keys.where(~zmask, keys + suffix)
    ua = pd.Series("test-agent/1.0", index=keys.index, dtype=object).where(
        ~malformed_mask, '"Mozilla/5.0 (Windows NT 10.0; Win64; x64) test/1.0'
    )
    req_ids = pd.Series(np.arange(n)).astype(str).str.zfill(8)
    header = (
        "0000aaaa0000aaaa example-bucket ["
        + pd.Series(ts.strftime("%d/%b/%Y:%H:%M:%S"), dtype=object)
        + " +0000] "
        + pd.Series(ip_arr, dtype=object)
        + " - REQ"
        + req_ids
        + " "
        + pd.Series(ops, dtype=object)
        + " "
        + full_keys
        + ' "GET /'
        + full_keys
        + ' HTTP/1.1" '
        + pd.Series(statuses, dtype=object)
        + " - "
        + pd.Series(bytes_raw, dtype=object)
        + " "
        + pd.Series(byte_vals.astype(str), dtype=object)
        + ' 53 52 "-" "'
        + ua
        + '" - HOSTID== - ECDHE-RSA-AES128-GCM-SHA256 - '
        + "example-bucket.s3.example.com TLSv1.2 - -"
    )
    # bodies: one flat gather of pooled words, re-joined per row at the
    # precomputed offsets
    en_words = np.array(_EN_WORDS, dtype=object)
    de_words = np.array(_DE_WORDS, dtype=object)
    offsets = np.concatenate(([0], np.cumsum(n_words)))
    en_flat = en_words[word_idx % len(en_words)]
    de_flat = de_words[word_idx % len(de_words)]
    texts = [
        " ".join((en_flat if lang_arr[i] == "en" else de_flat)[offsets[i] : offsets[i + 1]])
        for i in range(n)
    ]
    texts = pd.Series(texts, dtype=object)
    htmls = (header + "\n" + texts).map(lambda s: s.encode("utf-8"))
    urls = "https://example-bucket.s3.example.com/" + full_keys

    return pd.DataFrame(
        {"url": urls, "warc_ts": ts, "html": htmls, "text": texts, "lang": lang_arr}
    )


def generate_pages_spark(spark, n_pages: int, seed: int = 42):
    """Distributed deterministic pages table: ``spark.range`` ids ->
    chunk-seeded RNG (``default_rng([seed, 777, chunk_id])``) ->
    :func:`_build_page_chunk` in ``mapInPandas``.

    Output is a function of (n_pages, seed) only — independent of
    partitioning and parallelism level — which is what the N-vs-4N
    scaling protocol requires.  Keys and ips come from the dimension
    tables of ``generate(0, seed)``; the page bytes differ from
    ``generate(n_pages, seed)``'s (each chunk has its own RNG), their
    distributions do not.  This path exists because a 10^12-row design
    point cannot be generated single-threaded (the reference's fixtures
    are KB-scale; our bench input is not).
    """
    from .config import PAGES_SCHEMA

    dims_src = generate(0, seed)
    blob_list, zarr_list = _page_keys(dims_src.assets)
    ips = dims_src.expected["ips"]

    def build(batches):
        for pdf in batches:
            ids = pdf["id"].to_numpy()
            for chunk_id in np.unique(ids // PAGE_CHUNK):
                lo = int(chunk_id) * PAGE_CHUNK
                m = int(min(PAGE_CHUNK, n_pages - lo))
                rows = _build_page_chunk(
                    np.random.default_rng([seed, 777, int(chunk_id)]),
                    m,
                    blob_list,
                    zarr_list,
                    ips,
                )
                sel = ids[(ids >= lo) & (ids < lo + PAGE_CHUNK)] - lo
                yield rows.iloc[sel]

    # chunk <= Arrow batch size (10k default), so a chunk is rebuilt at
    # most twice when split across batch boundaries.  Partition count:
    # at least the cluster's parallelism (never fewer generation tasks
    # — and downstream single-row-group FILES — than cores), at most
    # one task per chunk; the data itself is chunk-seeded and identical
    # under any partitioning.
    n_part = max(
        1,
        min(
            n_pages // PAGE_CHUNK,
            max(
                spark.sparkContext.defaultParallelism,
                n_pages // (PAGE_CHUNK * 8),
            ),
        ),
    )
    rng_df = spark.range(0, n_pages, 1, n_part)
    return rng_df.mapInPandas(build, schema=PAGES_SCHEMA)


def to_spark(spark, tables: SyntheticTables):
    """Materialize the synthetic tables as Spark DataFrames (Arrow path)."""
    from .config import PAGES_SCHEMA

    pages = spark.createDataFrame(tables.pages, schema=PAGES_SCHEMA)
    dims = {
        name: spark.createDataFrame(getattr(tables, name))
        for name in ("assets", "cidr_ranges", "ip_region_cache", "geo_fallback", "excluded_ips")
    }
    return pages, dims
