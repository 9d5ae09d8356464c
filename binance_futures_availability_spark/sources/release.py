"""DB → gzip release sink + consistency verification (§2.1 S19).

The reference distributes its whole state as a gzip-compressed DuckDB file
attached to a GitHub Release (reference .github/workflows/update-database.yml
:403-410 — ``gzip -c "$DB_PATH" > "${DB_PATH}.gz"``) and verifies a published
artifact against the live database by comparing a fixed statistics block
(reference scripts/verify-database-consistency.py:140-203 ``get_database_stats``
and :206+ ``compare_databases``: total/available/unavailable/volume record
counts, date bounds, distinct dates/symbols, and the most-recent-date count).

Spark-side the same capability is: fact DataFrame → ``export_duckdb`` →
streamed gzip + sha256 sidecar (``release_database``), and verification that
computes the reference's statistics block BOTH ways — DuckDB-side over the
decompressed artifact (``database_stats``) and Spark-side over the live
DataFrame in ONE aggregate job (``release_stats``) — then diffs them
(``verify_release``).

Scale stance: the .duckdb artifact is a single-node distribution format by
construction (the reference's users download one file); building it is one
DuckDB ``read_parquet`` load. For a bare scan of committed local files (the
cron tick's post-upsert read) DuckDB reads those files in place, with no
Spark job and no copy; any other frame first goes through
``export_duckdb``'s Spark-parallel parquet staging. The verification side
never collects the fact table: ``release_stats`` is one partial-aggregated
reduction to a single row at any scale, and the artifact side runs inside
DuckDB on the already-single-node file.
"""

from __future__ import annotations

import datetime as dt
import gzip
import hashlib
import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .duckdb_io import export_duckdb

#: statistic keys, in the reference's reporting order
#: (verify-database-consistency.py:188-198)
STAT_KEYS = [
    "total_records",
    "available_records",
    "unavailable_records",
    "volume_records",
    "min_date",
    "max_date",
    "distinct_dates",
    "distinct_symbols",
    "asof_count",
]


def release_database(
    da: DataFrame,
    out_path: str,
    table: str = "daily_availability",
) -> dict:
    """Build the distributable release artifact: the fact DataFrame exported
    to a reference-compatible .duckdb file, gzip-compressed to ``out_path``,
    with a ``<out_path>.sha256`` sidecar (the workflow's integrity check).
    Compression streams in 1 MiB chunks — the database never resides in
    memory. Returns the artifact's stats block (computed on the exported
    file, so it describes exactly what was shipped)."""
    staging = tempfile.mkdtemp(prefix="release_")
    try:
        db = os.path.join(staging, "availability.duckdb")
        export_duckdb(da, db, table=table)
        stats = database_stats(db, table=table)
        digest = hashlib.sha256()
        tmp = f"{out_path}.tmp-{os.getpid()}"
        os.makedirs(os.path.dirname(os.path.abspath(out_path)), exist_ok=True)
        with open(db, "rb") as src, gzip.open(tmp, "wb", compresslevel=6) as dst:
            while chunk := src.read(1 << 20):
                dst.write(chunk)
        # checksum of the COMPRESSED artifact (what gets downloaded)
        with open(tmp, "rb") as f:
            while chunk := f.read(1 << 20):
                digest.update(chunk)
        os.replace(tmp, out_path)
        with open(f"{out_path}.sha256", "w", encoding="utf-8") as f:
            f.write(f"{digest.hexdigest()}  {os.path.basename(out_path)}\n")
    finally:
        shutil.rmtree(staging, ignore_errors=True)
    return stats


def open_release(release_path: str, verify_checksum: bool = True) -> str:
    """Decompress a release artifact to a temp .duckdb path (caller-owned;
    the reference's download-and-decompress step,
    verify-database-consistency.py:85-137). With ``verify_checksum`` the
    sidecar must match — a truncated or corrupted download fails here, not
    as a confusing DuckDB error later."""
    sidecar = f"{release_path}.sha256"
    if verify_checksum and os.path.exists(sidecar):
        digest = hashlib.sha256()
        with open(release_path, "rb") as f:
            while chunk := f.read(1 << 20):
                digest.update(chunk)
        expected = open(sidecar, encoding="utf-8").read().split()[0]
        if digest.hexdigest() != expected:
            raise ValueError(
                f"checksum mismatch for {release_path}: "
                f"{digest.hexdigest()} != {expected}"
            )
    out = tempfile.NamedTemporaryFile(
        prefix="release_db_", suffix=".duckdb", delete=False
    )
    try:
        with gzip.open(release_path, "rb") as src:
            shutil.copyfileobj(src, out, length=1 << 20)
        out.close()
    except BaseException:
        # a truncated/corrupt artifact (no sidecar to pre-check) must not
        # leak the partially-written temp database on every retry
        out.close()
        os.unlink(out.name)
        raise
    return out.name


def database_stats(
    db_path: str,
    table: str = "daily_availability",
    as_of: dt.date | str | None = None,
) -> dict:
    """The reference's statistics block over a .duckdb file (DuckDB-side,
    verify-database-consistency.py:140-203). ``as_of`` replaces the
    reference's wall-clock ``yesterday`` (determinism; pass the date the
    caller expects the last update to have covered)."""
    import duckdb

    from .duckdb_io import _check_ident

    _check_ident(table)
    con = duckdb.connect(db_path, read_only=True)
    try:
        row = con.execute(
            f"""
            SELECT COUNT(*),
                   COUNT(*) FILTER (WHERE available),
                   COUNT(*) FILTER (WHERE NOT available),
                   COUNT(*) FILTER (WHERE file_size_bytes IS NOT NULL),
                   MIN(date), MAX(date),
                   COUNT(DISTINCT date), COUNT(DISTINCT symbol),
                   COUNT(*) FILTER (WHERE date = ?)
            FROM {table}
            """,
            [as_of if as_of is not None else dt.date(1970, 1, 1)],
        ).fetchone()
    finally:
        con.close()
    return dict(zip(STAT_KEYS, [int(v) if i not in (4, 5) else v for i, v in enumerate(row)]))


def release_stats(
    da: DataFrame, as_of: dt.date | str | None = None
) -> DataFrame:
    """The same statistics block computed Spark-side over the live fact
    DataFrame — ONE aggregate job reducing to a single row (partial
    aggregation before the only exchange; the two exact distincts expand
    over dimension-bounded columns). This is the distributed half of the
    consistency check: at 100 TB the artifact side is already single-node
    by format, and this side stays one reduction."""
    asof_lit = F.lit(str(as_of) if as_of is not None else "1970-01-01").cast(
        "date"
    )

    def _cnt(cond):
        # SUM over an empty frame is NULL; the DuckDB side's COUNT(*)
        # FILTER is 0 — coalesce so an empty table compares equal and the
        # CLI's :, formatting never sees None
        return F.coalesce(F.sum(cond.cast("long")), F.lit(0).cast("long"))

    return da.agg(
        F.count(F.lit(1)).alias("total_records"),
        _cnt(F.col("available")).alias("available_records"),
        _cnt(~F.col("available")).alias("unavailable_records"),
        _cnt(F.col("file_size_bytes").isNotNull()).alias("volume_records"),
        F.min("date").alias("min_date"),
        F.max("date").alias("max_date"),
        F.countDistinct("date").alias("distinct_dates"),
        F.countDistinct("symbol").alias("distinct_symbols"),
        _cnt(F.col("date") == asof_lit).alias("asof_count"),
    )


def verify_release(
    da: DataFrame,
    release_path: str,
    as_of: dt.date | str | None = None,
    table: str = "daily_availability",
) -> tuple[bool, list[str]]:
    """Compare the live fact DataFrame against a published release artifact
    (reference compare_databases: field-by-field diff of the stats blocks,
    warnings listed per field). Returns (is_consistent, differences)."""
    db = open_release(release_path)
    try:
        theirs = database_stats(db, table=table, as_of=as_of)
    finally:
        os.unlink(db)
    ours_row = release_stats(da, as_of=as_of).collect()[0]
    ours = {k: ours_row[k] for k in STAT_KEYS}
    differences = []
    for k in STAT_KEYS:
        a, b = ours.get(k), theirs.get(k)
        if a != b:
            differences.append(f"{k}: live={a}, release={b}")
    return (not differences, differences)


# --------------------------------------------------------------------------
# Publishing (the upload half of S19)
#
# The reference publishes via softprops/action-gh-release@v2 (workflow
# .github/workflows/update-database.yml:523-541): a rolling `latest` tag
# whose release body is regenerated markdown and whose assets are REPLACED
# in place (same-name upload on an existing release fails unless the stale
# asset is deleted first). The client below speaks the same GitHub Releases
# REST surface through an injectable transport — the probe module's HeadFn
# discipline (ingest/probe.py) — so tests pin the exact call sequence and
# production swaps in urllib with a token, and nothing in the engine ever
# hard-depends on network access.
# --------------------------------------------------------------------------

#: (method, url, headers, body) -> (http status, decoded-JSON dict or {}).
#: Raise for transport-level failures; HTTP-level errors return the status.
TransportFn = "Callable[[str, str, dict, bytes | None], tuple[int, dict]]"

_API = "https://api.github.com"
_UPLOADS = "https://uploads.github.com"


def _urllib_transport(token: str):
    """Default GitHub transport: urllib + bearer token. Kept tiny — callers
    with retry/pooling needs inject their own."""
    import json as _json
    import urllib.error
    import urllib.request

    def transport(
        method: str, url: str, headers: dict, body: bytes | None
    ) -> tuple[int, dict]:
        req = urllib.request.Request(url, data=body, method=method)
        req.add_header("Authorization", f"Bearer {token}")
        req.add_header("Accept", "application/vnd.github+json")
        for k, v in headers.items():
            req.add_header(k, v)
        try:
            with urllib.request.urlopen(req, timeout=60) as resp:
                raw = resp.read()
                status = resp.status
        except urllib.error.HTTPError as e:
            raw = e.read()
            status = e.code
        try:
            return status, _json.loads(raw) if raw else {}
        except ValueError:
            return status, {}

    return transport


def render_release_notes(
    stats: dict,
    repo: str,
    as_of: str,
    trigger: str = "manual",
    mode: str = "daily",
    validation_warnings: list[str] | None = None,
    extra_files: dict[str, str] | None = None,
) -> str:
    """The release-body markdown, generated from the SAME stats block the
    consistency check uses (reference workflow "Generate release notes",
    update-database.yml:411-521: statistics, update details, validation
    status, file listing, usage snippet). Deterministic: the caller passes
    the timestamp-like ``as_of`` instead of wall clock."""
    validation_line = (
        "All checks passed"
        if not validation_warnings
        else "Completed with warnings (see below)"
    )
    lines = [
        f"## Database Update - {as_of}",
        "",
        "### Statistics",
        f"- **Latest Date**: {stats.get('max_date')}",
        f"- **Total Records**: {stats['total_records']:,}",
        f"- **Available Files**: {stats['available_records']:,}",
        f"- **Unavailable Files**: {stats['unavailable_records']:,}",
        "",
        "### Update Details",
        f"- **Trigger**: {trigger}",
        f"- **Mode**: {mode}",
        f"- **Validation**: {validation_line}",
    ]
    if validation_warnings:
        lines += ["", "### Validation Warnings", "", "```"]
        lines += list(validation_warnings)
        lines += ["```"]
    lines += [
        "",
        "### Files",
        "- `availability.duckdb.gz` - Compressed database"
        " (recommended for download)",
        "- `availability.duckdb.gz.sha256` - Integrity sidecar",
    ]
    for name, desc in (extra_files or {}).items():
        lines.append(f"- `{name}` - {desc}")
    lines += [
        "",
        "### Usage",
        "```bash",
        f"wget https://github.com/{repo}/releases/download/latest/"
        "availability.duckdb.gz",
        "gunzip availability.duckdb.gz",
        "```",
    ]
    return "\n".join(lines) + "\n"


def publish_release(
    repo: str,
    files: list[str],
    body: str,
    tag: str = "latest",
    name: str = "Latest Database Snapshot",
    token: str | None = None,
    transport=None,
) -> dict:
    """Create-or-update the rolling release and replace its assets — the
    action-gh-release contract (update-database.yml:523-541: tag_name
    `latest`, make_latest, files replaced each run).

    Sequence (pinned by tests/test_release.py):
      1. GET  /repos/{repo}/releases/tags/{tag}
      2. 404 → POST /repos/{repo}/releases  (create, make_latest)
         200 → PATCH /repos/{repo}/releases/{id}  (refresh name/body)
      3. per file: DELETE any existing same-name asset, then POST the
         binary to uploads.github.com.

    Returns {"release_id": ..., "uploaded": [names], "replaced": [names]}.
    Pure driver-side control flow over bounded artifacts — never a Spark
    job; the distributed work ended at release_database()."""
    import json as _json

    if transport is None:
        if token is None:
            token = os.environ.get("GITHUB_TOKEN", "")
        if not token:
            raise ValueError(
                "publish_release needs a token or an injected transport"
            )
        transport = _urllib_transport(token)

    status, rel = transport(
        "GET", f"{_API}/repos/{repo}/releases/tags/{tag}", {}, None
    )
    if status == 404:
        payload = {
            "tag_name": tag,
            "name": name,
            "body": body,
            "draft": False,
            "prerelease": False,
            "make_latest": "true",
        }
        status, rel = transport(
            "POST",
            f"{_API}/repos/{repo}/releases",
            {"Content-Type": "application/json"},
            _json.dumps(payload).encode(),
        )
        if status not in (200, 201):
            raise RuntimeError(f"release create failed: HTTP {status} {rel}")
    elif status == 200:
        status2, rel2 = transport(
            "PATCH",
            f"{_API}/repos/{repo}/releases/{rel['id']}",
            {"Content-Type": "application/json"},
            _json.dumps({"name": name, "body": body}).encode(),
        )
        if status2 == 200:
            rel = rel2
    else:
        raise RuntimeError(f"release lookup failed: HTTP {status} {rel}")

    existing = {
        a["name"]: a["id"] for a in rel.get("assets", []) if "name" in a
    }
    uploaded, replaced = [], []
    for path in files:
        fname = os.path.basename(path)
        if fname in existing:
            transport(
                "DELETE",
                f"{_API}/repos/{repo}/releases/assets/{existing[fname]}",
                {},
                None,
            )
            replaced.append(fname)
        with open(path, "rb") as f:
            data = f.read()
        status, _ = transport(
            "POST",
            f"{_UPLOADS}/repos/{repo}/releases/{rel['id']}/assets"
            f"?name={fname}",
            {"Content-Type": "application/octet-stream"},
            data,
        )
        if status not in (200, 201):
            raise RuntimeError(f"asset upload failed for {fname}: {status}")
        uploaded.append(fname)
    return {
        "release_id": rel.get("id"),
        "uploaded": uploaded,
        "replaced": replaced,
    }
