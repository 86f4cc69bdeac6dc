"""LOCA2-shaped inputs and the ETL tick that consumes them.

The generator plants a "remote server" directory tree shaped like the
LOCA2 HTTP listing: one directory per (model, member, scenario, variable)
holding an ``index.html`` listing, the monthly NetCDF files it names
(real CDF-1 payloads from ``write_netcdf3``) and decoys the discovery
regex must reject (daily files, a temp file, navigation links). The
registry shape follows FIXTURES.md sections 1-3: 27 models x 4 scenarios,
members skewed per model, one 1950-2014 file per historical member and
three future-range files per ssp member.

A tick is the job the reference's sensor and assets run, expressed with
the engine's public operators:

1. ``discover_all`` per variable (listing crawl, regex, manifest,
   idempotency anti-join against the processed log);
2. ``ingest_and_convert`` into a local bucket directory (raw tier, one
   zarr-like store per file);
3. ``decode_netcdf_tidy`` + ``write_tidy_long`` (tidy Parquet tier);
4. ``ProcessedLog.append`` + ``CursorStore.commit``;
5. ``listing_from_fs`` -> ``build_catalog`` -> ``write_catalog``.

The fetchers and the converter below run on executors; they are plain
module functions, so the checkout root must be on the workers'
``PYTHONPATH``.
"""

from __future__ import annotations

import functools
import json
import os
from dataclasses import dataclass, field

import numpy as np

MODELS = (
    "ACCESS-CM2", "ACCESS-ESM1-5", "AWI-CM-1-1-MR", "BCC-CSM2-MR", "CESM2-LENS",
    "CNRM-CM6-1", "CNRM-CM6-1-HR", "CNRM-ESM2-1", "CanESM5", "EC-Earth3",
    "EC-Earth3-Veg", "FGOALS-g3", "GFDL-CM4", "GFDL-ESM4", "HadGEM3-GC31-LL",
    "HadGEM3-GC31-MM", "INM-CM4-8", "INM-CM5-0", "IPSL-CM6A-LR", "KACE-1-0-G",
    "MIROC6", "MPI-ESM1-2-HR", "MPI-ESM1-2-LR", "MRI-ESM2-0", "NorESM2-LM",
    "NorESM2-MM", "TaiESM1")
SCENARIOS = ("historical", "ssp245", "ssp370", "ssp585")
FUTURE_RANGES = ("2015-2044", "2045-2074", "2075-2100")
VARIABLES = ("tasmax", "tasmin", "pr")
VERSIONS = ("20220413", "20220519", "20240915")
BASE_URL = "https://cirrus.ucsd.edu/~pierce/LOCA2/CONUS_regions_split"
BUCKET = "loca2-bench"
KEY_PREFIX = "monthly/"
# Keys the catalog must quarantine (too few path parts, too few dot fields).
MALFORMED_KEYS = ("monthly/README", "monthly/ACCESS-CM2/historical/tasmax.ncks.tmp")


@dataclass(frozen=True)
class Shape:
    """Registry and grid size. ``members`` is the per-model member count
    profile (one entry per model, dealt out over the models by the seed,
    so every seed plants the same number of files); ``dropped`` single-
    member models lose one ssp scenario each (99 of 108 pairs remain)."""
    members: tuple[int, ...]
    dropped: int
    grid: tuple[int, int, int]  # (time, lat, lon) cells per file
    models: int = len(MODELS)


# 27 models, members skewed 1..3 per model: 849 monthly files.
BACKFILL = Shape((3, 2, 2) + (1,) * 24, dropped=9, grid=(6, 8, 8))
TINY = Shape((2, 1, 1), dropped=1, grid=(2, 2, 2), models=3)


@dataclass(frozen=True)
class PlantedFile:
    model: str
    scenario: str
    memberid: str
    variable: str
    filename: str
    listing_dir: str  # path of the listing directory under the remote root
    n_cells: int
    value_sum: float  # exact: every value is a multiple of 2**-20

    @property
    def s3_key(self) -> str:
        return f"/monthly/{self.model}/{self.scenario}/{self.filename}"

    @property
    def url(self) -> str:
        return f"{BASE_URL}/{self.listing_dir}/{self.filename}"

    @property
    def store_key(self) -> str:
        """Bucket key of the converted store (``.nc`` -> ``.zarr``)."""
        return self.s3_key[1:-3] + ".zarr"


def registry(shape: Shape, rng) -> dict:
    """Nested {model: {scenario: [memberid]}} registry."""
    models = MODELS[:shape.models]
    counts = rng.permutation(np.array(shape.members))
    single = [m for m, c in zip(models, counts) if c == 1]
    drop = set(rng.choice(len(single), shape.dropped, replace=False).tolist())
    nested: dict = {}
    for i, (model, n) in enumerate(zip(models, counts)):
        f = int(rng.integers(1, 4))
        members = [f"r{k}i1p1f{f}" for k in range(1, int(n) + 1)]
        scenarios = list(SCENARIOS)
        if model in single and single.index(model) in drop:
            scenarios.remove(SCENARIOS[1 + i % 3])
        nested[model] = {s: members for s in scenarios}
    return nested


def _payload(rng, variable: str, start_year: int, grid: tuple[int, int, int]):
    """CDF-1 bytes for one file plus the exact sum of its cell values."""
    from downscaledclimatedata_spark.operators.netcdf3 import write_netcdf3
    nt, nlat, nlon = grid
    if variable == "pr":
        values = rng.integers(0, 1024, nt * nlat * nlon) * 2.0 ** -20
    else:
        values = 240.0 + rng.integers(0, 320, nt * nlat * nlon) * 0.25
    days0 = int((np.datetime64(f"{start_year}-01-01") - np.datetime64("1950-01-01")).astype(int))
    days = [days0 + int(d) for d in (np.arange(nt) * 30.4375).astype(int)]
    blob = write_netcdf3(
        dims=[("time", nt), ("lat", nlat), ("lon", nlon)],
        variables=[
            ("time", 4, ["time"], days, {"units": (2, "days since 1950-01-01")}),
            ("lat", 6, ["lat"], [32.0 + i / 16 for i in range(nlat)], {}),
            ("lon", 6, ["lon"], [-117.0 + j / 16 for j in range(nlon)], {}),
            (variable, 5, ["time", "lat", "lon"], values.tolist(), {})])
    return blob, float(values.sum())


@dataclass
class Remote:
    """The planted remote tree."""
    root: str
    nested: dict
    files: list[PlantedFile] = field(default_factory=list)

    @functools.cached_property
    def by_key(self) -> dict[str, PlantedFile]:
        return {f.s3_key: f for f in self.files}

    def listing_count(self) -> int:
        return len({f.listing_dir for f in self.files})


def plant(root: str, shape: Shape, seed: int) -> Remote:
    """Write the remote tree: every file's payload and every listing."""
    rng = np.random.default_rng(seed)
    nested = registry(shape, rng)
    remote = Remote(root, nested)
    names: dict[str, list[str]] = {}  # listing dir -> anchors it lists
    n_cells = shape.grid[0] * shape.grid[1] * shape.grid[2]
    for model, scenarios in nested.items():
        version = VERSIONS[int(rng.integers(0, len(VERSIONS)))]
        for scenario, members in scenarios.items():
            ranges = ("1950-2014",) if scenario == "historical" else FUTURE_RANGES
            for member in members:
                for variable in VARIABLES:
                    listing_dir = f"{model}/cent/0p0625deg/{member}/{scenario}/{variable}"
                    os.makedirs(os.path.join(root, listing_dir), exist_ok=True)
                    for trange in ranges:
                        suffix = ("cent.monthly.nc" if variable == "pr" and rng.random() < 0.3
                                  else "monthly.cent.nc")
                        filename = (f"{variable}.{model}.{scenario}.{member}.{trange}"
                                    f".LOCA_16thdeg_v{version}.{suffix}")
                        blob, vsum = _payload(rng, variable, int(trange[:4]), shape.grid)
                        with open(os.path.join(root, listing_dir, filename), "wb") as fh:
                            fh.write(blob)
                        remote.files.append(PlantedFile(
                            model, scenario, member, variable, filename,
                            listing_dir, n_cells, vsum))
                        # the monthly file and its daily twin, which a
                        # monthly crawl must reject
                        daily = filename.rsplit(".", 3)[0] + ".cent.nc"
                        names.setdefault(listing_dir, []).extend([filename, daily])
    for listing_dir, files in names.items():
        variable = listing_dir.rsplit("/", 1)[-1]
        anchors = ["../", "index.html", f"{variable}.ncks.tmp"] + files
        with open(os.path.join(root, listing_dir, "index.html"), "w") as fh:
            fh.write("<html><body>\n" + "".join(
                f'<a href="{n}">{n}</a>\n' for n in anchors) + "</body></html>\n")
    return remote


# --- executor-side transport ---------------------------------------------------

def fetch_listing(root: str, url: str) -> str:
    """Serve a listing URL from the planted tree."""
    rel = url[len(BASE_URL):].strip("/")
    with open(os.path.join(root, rel, "index.html")) as fh:
        return fh.read()


def fetch_file(root: str, url: str) -> bytes:
    """Serve a file URL from the planted tree."""
    with open(os.path.join(root, url[len(BASE_URL):].lstrip("/")), "rb") as fh:
        return fh.read()


def read_path(path: str) -> bytes:
    with open(path, "rb") as fh:
        return fh.read()


def write_store(payload: bytes, out_path: str) -> int:
    """Raw-tier converter: a zarr-like store holding the payload as one chunk."""
    variable = os.path.basename(out_path).split(".")[0]
    os.makedirs(os.path.join(out_path, variable), exist_ok=True)
    with open(os.path.join(out_path, variable, "0"), "wb") as fh:
        fh.write(payload)
    with open(os.path.join(out_path, ".zmetadata"), "w") as fh:
        json.dump({"zarr_consolidated_format": 1, "variable": variable}, fh)
    return len(payload)


# --- the tick ---------------------------------------------------------------

MANIFEST_SCHEMA = ("model string, scenario string, memberid string, "
                   "variable string, url string, s3_key string")


@dataclass
class Pipeline:
    """One state directory (bucket, tidy tier, log, cursor, catalog) and
    the ticks that advance it. The bucket starts with the malformed keys
    the catalog must quarantine."""
    spark: object
    work: str
    remote: Remote
    registry_df: object

    def __post_init__(self):
        for key in MALFORMED_KEYS:
            path = os.path.join(self.bucket, key)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as fh:
                fh.write("not a store\n")

    @property
    def bucket(self) -> str:
        return os.path.join(self.work, "bucket")

    @property
    def log(self):
        from downscaledclimatedata_spark.streaming.cursor import ProcessedLog
        return ProcessedLog(self.spark, os.path.join(self.work, "state", "processed"))

    def discover(self) -> list:
        """New-work manifest rows for every variable, against the log."""
        from downscaledclimatedata_spark.operators.registry import discover_all
        processed = self.log.read()
        fetcher = functools.partial(fetch_listing, self.remote.root)
        frames = [discover_all(self.registry_df, v, BASE_URL, True, processed, fetcher=fetcher)
                  for v in VARIABLES]
        return functools.reduce(lambda a, b: a.unionByName(b), frames).collect()

    def tick(self, tick_id: int, tracer) -> dict:
        """Run one tick; returns what each step produced, for the checks."""
        from downscaledclimatedata_spark.operators.catalog import build_catalog, write_catalog
        from downscaledclimatedata_spark.operators.ingest import (
            decode_netcdf_tidy, ingest_and_convert, write_tidy_long)
        from downscaledclimatedata_spark.operators.listing import listing_from_fs
        from downscaledclimatedata_spark.operators.netcdf3 import netcdf3_tidy_decoder
        from downscaledclimatedata_spark.streaming.cursor import CursorStore

        spark, root = self.spark, self.remote.root
        out: dict = {"tick": tick_id}
        with tracer.span("tick", f"tick{tick_id}", trace_id=f"tick{tick_id}"):
            with tracer.span("discovery", "discover_all") as sp:
                rows = self.discover()
            out["manifest"] = rows
            out["discovery_span"] = sp
            if not rows:
                return out
            with tracer.span("ingest", "ingest_and_convert"):
                mdf = spark.createDataFrame(
                    [(r.model, r.scenario, r.memberid, r.variable, r.url, r.s3_key)
                     for r in rows], MANIFEST_SCHEMA)
                ingested = ingest_and_convert(
                    mdf, fetcher=functools.partial(fetch_file, root),
                    converter=write_store, output_root=self.bucket).collect()
            out["ingested"] = ingested
            ok = {r.s3_key: r.output_path for r in ingested if r.status == "ok"}
            with tracer.span("decode", "decode_netcdf_tidy"):
                ddf = spark.createDataFrame(
                    [(r.model, r.scenario, r.memberid, r.variable,
                      f"{ok[r.s3_key]}/{r.variable}/0", r.s3_key)
                     for r in rows if r.s3_key in ok], MANIFEST_SCHEMA)
                tidy = decode_netcdf_tidy(ddf, fetcher=read_path,
                                          decoder=netcdf3_tidy_decoder)
                write_tidy_long(tidy, os.path.join(self.work, "tidy"))
            with tracer.span("cursor", "append_commit"):
                self.log.append(spark.createDataFrame([(k,) for k in sorted(ok)], "s3_key string"))
                cursors = CursorStore(spark, os.path.join(self.work, "state", "cursor"))
                for v in VARIABLES:
                    groups = [f"{r.model}/{r.scenario}" for r in rows if r.variable == v]
                    if groups:
                        cursors.commit(f"{v}_monthly", max(groups))
            with tracer.span("catalog", "listing_build_write"):
                listing = listing_from_fs(spark, self.bucket)
                catalog, quarantine = build_catalog(listing, BUCKET, prefix=KEY_PREFIX)
                write_catalog(catalog, os.path.join(self.work, "catalog"), "loca2_monthly",
                              "LOCA2 monthly stores", "zarr")
        out["quarantine"] = quarantine
        return out


# --- checks (DuckDB over what the tick wrote) --------------------------------

def check_tick(pipe: Pipeline, out: dict, expected: list[PlantedFile]) -> dict[str, bool]:
    """Compare a backfill tick's outputs with the generator; returns
    check -> ok. A second discovery must find nothing new (idempotency)."""
    import duckdb
    keys = {f.s3_key for f in expected}
    by_key = pipe.remote.by_key
    got = out["manifest"]
    ingested = out.get("ingested", [])
    checks = {
        "manifest": (len(got) == len(keys) and {r.s3_key for r in got} == keys
                     and all(r.url == by_key[r.s3_key].url for r in got)),
        "ingest": (sorted(r.s3_key for r in ingested) == sorted(keys)
                   and all(r.status == "ok" for r in ingested)),
    }
    state = os.path.join(pipe.work, "state")
    con = duckdb.connect()
    con.execute("SET threads=2")
    tidy = os.path.join(pipe.work, "tidy", "**", "*.parquet")
    cells = {v: (n, s) for v, n, s in con.execute(
        f"SELECT variable, COUNT(*), SUM(value::DOUBLE) FROM "
        f"read_parquet('{tidy}', hive_partitioning=true) GROUP BY variable").fetchall()}
    want: dict[str, tuple] = {}
    for f in expected:
        n, s = want.get(f.variable, (0, 0.0))
        want[f.variable] = (n + f.n_cells, s + f.value_sum)
    checks["tidy"] = cells == want
    log = [k for (k,) in con.execute(
        f"SELECT run_key FROM read_parquet('{state}/processed/*.parquet')").fetchall()]
    checks["log"] = len(log) == len(keys) and set(log) == keys
    cursors = dict(con.execute(
        f"SELECT stream, cursor FROM read_parquet('{state}/cursor/*.parquet')").fetchall())
    checks["cursor"] = cursors == {
        f"{v}_monthly": max(f"{f.model}/{f.scenario}" for f in expected if f.variable == v)
        for v in VARIABLES}
    csv = os.path.join(pipe.work, "catalog", "loca2_monthly.csv", "*.csv")
    rows = con.execute(f"SELECT variable, model, scheme, experiment_id, time_range, path "
                       f"FROM read_csv('{csv}', header=true, all_varchar=true)").fetchall()
    checks["catalog"] = len(rows) == len(keys) and set(rows) == {
        (f.variable, f.model, f.scenario, f.memberid, f.filename.split(".")[4],
         f"s3://{BUCKET}/{f.store_key}") for f in expected}
    con.close()
    out["quarantined"] = out["quarantine"].count()
    checks["quarantine"] = out["quarantined"] == len(MALFORMED_KEYS)
    checks["rediscover"] = pipe.discover() == []
    return checks
