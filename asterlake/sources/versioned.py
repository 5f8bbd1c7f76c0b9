"""Versioned dataset snapshots: reproducible training-data pinning.

The reference has no versioning story (its gold tables are append-only
parquet; yesterday's training run is unrecoverable once today's append
lands). A training-data lakehouse needs the opposite: every corpus build
must be addressable forever ("model X trained on documents@v12"), and a
re-read of v12 must be verifiably byte-identical to what the trainer saw.

This is the plain-parquet analog of Delta/Iceberg snapshot isolation,
deliberately minimal:

- ``write_version(df, root)`` writes the full snapshot under
  ``root/v=N/data/`` (N = 1 + latest committed) and then commits a
  ``manifest.json`` carrying the row count and the order-independent
  content checksum (:mod:`asterlake.operators.integrity`). Both metrics
  ride the write action itself via the Observation API — the snapshot is
  NOT re-scanned to build its manifest. The manifest write is the commit
  point: a crashed job leaves a data directory without a manifest, which
  every reader ignores (write-ahead-data, commit-by-manifest — the same
  atomicity discipline as a _SUCCESS marker, but carrying content).
- ``read_version(spark, root, version=None)`` reads a pinned version (or
  the latest committed one), skipping uncommitted directories.
- ``verify_version(spark, root, version)`` re-derives the checksum from
  the stored files and compares it to the manifest — the audit a trainer
  runs before a multi-week job, and the cross-site check a replica runs
  after a copy.
- ``scan_version(spark, root, conditions, version)`` (r8) is the
  data-skipping read: ``write_version(..., stats_cols=[...])`` harvests
  per-file min/max/null statistics from the just-written parquet footers
  (a metadata read, no second scan) into the manifest, and scan planning
  drops every file the conjunctive predicate provably cannot match
  before Spark sees a path — file-level skipping above Spark's own
  row-group skipping, the Delta/Iceberg planning shape on plain parquet.
  ``set_cols=[...]`` (late r8) additionally records per-file distinct
  VALUE SETS (capped per file) so ``==``/``in`` predicates on unsorted
  low-cardinality columns — lang, source, status — prune exactly where
  every file's [min, max] spans the whole domain and ranges prune
  nothing: the set-index shape (Iceberg puffin / ClickHouse set index).
  ``bloom_cols=[...]`` (r9) covers the remaining case — equality/IN on
  HIGH-cardinality columns (ids, urls, digests) where the set cap
  overflows: a fixed-size per-file Bloom bitmap (kept in the manifest,
  zero file I/O at planning) proves absence with no false negatives at
  any cardinality, so the same provably-safe-skip contract holds.

Scale shape: a snapshot write is one pass (the caller's plan + observed
metrics); verify is one scan + scalar aggregate. Versions share nothing
(full snapshots, not deltas) — at 100 TB you run this on the CURATED
corpus (the deduped/filtered training slice), not the raw lake, and the
cost of a full snapshot is the cost of materializing the corpus you were
going to write anyway. Manifest I/O is one tiny JSON per version.
"""

from __future__ import annotations

import json
import os
import re

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from asterlake.operators.integrity import (
    _CHECKSUM_MOD,
    SIG_ENCODING,
    row_signature,
)


def committed_dirs(root: str, prefix: str, manifest: str | None) -> list[int]:
    """Sorted numbers ``N`` of the ``root/<prefix>N`` directories whose
    ``manifest`` file has landed (every such directory when ``manifest``
    is None). A directory without its manifest is a crashed or in-flight
    write, invisible to readers."""
    if not os.path.isdir(root):
        return []
    pattern = re.compile(rf"^{re.escape(prefix)}(\d+)$")
    return sorted(
        int(m.group(1))
        for name in os.listdir(root)
        if (m := pattern.match(name))
        and (
            manifest is None
            or os.path.isfile(os.path.join(root, name, manifest))
        )
    )


def commit_manifest(path: str, text: str) -> None:
    """Publish ``text`` at ``path`` atomically: write a sibling temp file,
    then rename it into place. The rename is the commit point, so a
    reader sees either no manifest or the whole one."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.rename(tmp, path)


def _versions(root: str, committed_only: bool = True) -> list[int]:
    return committed_dirs(
        root, "v=", "manifest.json" if committed_only else None
    )


def latest_version(root: str) -> int | None:
    """Highest COMMITTED version number, or None if none exist."""
    vs = _versions(root)
    return vs[-1] if vs else None


def _manifest_path(root: str, version: int) -> str:
    return os.path.join(root, f"v={version}", "manifest.json")


def _data_path(root: str, version: int) -> str:
    return os.path.join(root, f"v={version}", "data")


def _stat_encode(v):
    """JSON-encode a parquet footer statistic, tagging the types JSON
    can't round-trip. Returns None for types the skipper doesn't
    understand — the file then simply never prunes on that column."""
    import datetime

    if isinstance(v, bool) or v is None:
        return None  # bool min/max is useless for pruning; keep it simple
    if isinstance(v, (int, float, str)):
        return v
    if isinstance(v, datetime.datetime):
        # store the instant-canonical (naive UTC) form — see _ts_instant
        return {"_t": "ts", "v": _ts_instant(v).isoformat()}
    if isinstance(v, datetime.date):
        return {"_t": "date", "v": v.isoformat()}
    return None


def _stat_decode(v):
    import datetime

    if isinstance(v, dict) and "_t" in v:
        if v["_t"] == "ts":
            # normalize on decode too: manifests written before the
            # instant-canonical encoding may carry aware isoformats
            return _ts_instant(datetime.datetime.fromisoformat(v["v"]))
        if v["_t"] == "date":
            return datetime.date.fromisoformat(v["v"])
        raise ValueError(f"unknown stat type tag {v['_t']!r}")
    return v


def collect_file_stats(data_dir: str, cols: list[str]) -> dict:
    """Per-data-file column statistics from the parquet FOOTERS — a
    metadata read (one footer per file), never a data scan; the same
    source of truth Spark's own row-group skipping uses, lifted to the
    manifest so planning can drop whole files before any footer I/O.

    Returns ``{filename: {"n_rows": n, "cols": {col: {"min", "max",
    "null_count"}}}}``. A column is recorded only when EVERY row group
    in the file carries exact min/max (``has_min_max``) or is all-null;
    anything else (unsupported type, truncated/absent stats) omits the
    column and the file is never pruned on it — skipping must only ever
    be provably safe."""
    import pyarrow.parquet as pq

    out: dict = {}
    for name in sorted(os.listdir(data_dir)):
        if not name.endswith(".parquet"):
            continue
        pf = pq.ParquetFile(os.path.join(data_dir, name))
        schema_names = pf.schema_arrow.names
        idx = {c: schema_names.index(c) for c in cols if c in schema_names}
        col_stats: dict = {}
        for c, i in idx.items():
            lo = hi = None
            nulls = 0
            usable = True
            for rg in range(pf.metadata.num_row_groups):
                st = pf.metadata.row_group(rg).column(i).statistics
                n_in_group = pf.metadata.row_group(rg).num_rows
                if st is None or st.null_count is None:
                    usable = False
                    break
                nulls += st.null_count
                if st.null_count == n_in_group:
                    continue  # all-null group contributes no min/max
                if not st.has_min_max:
                    usable = False
                    break
                mn, mx = _stat_encode(st.min), _stat_encode(st.max)
                if mn is None or mx is None:
                    usable = False
                    break
                lo = mn if lo is None or _lt(mn, lo) else lo
                hi = mx if hi is None or _lt(hi, mx) else hi
            if usable:
                col_stats[c] = {"min": lo, "max": hi, "null_count": nulls}
        out[name] = {"n_rows": pf.metadata.num_rows, "cols": col_stats}
    return out


def collect_file_value_sets(
    data_dir: str, cols: list[str], set_max: int = 64
) -> dict:
    """Per-data-file DISTINCT VALUE SETS for low-cardinality columns —
    the set-index complement to min/max: an equality or IN predicate on
    an UNSORTED categorical column (lang, source, status) gets no help
    from ranges (every file spans the whole domain) but prunes exactly
    against the file's value set. Reads ONLY the named columns
    (columnar projection; dictionary-encoded categoricals decode
    cheaply), never whole files.

    Returns ``{filename: {col: [values] | None}}`` — None when the file
    holds more than ``set_max`` distinct values (the column is not
    low-cardinality there; recording an unbounded set would bloat the
    manifest) or any value fails to encode: an unusable set NEVER
    prunes, so skipping stays provably safe. NULLs are excluded from
    the sets (equality and IN never match NULL; the null ops judge by
    ``null_count`` as before)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out: dict = {}
    for name in sorted(os.listdir(data_dir)):
        if not name.endswith(".parquet"):
            continue
        pf = pq.ParquetFile(os.path.join(data_dir, name))
        present = [c for c in cols if c in pf.schema_arrow.names]
        sets: dict = {}
        if present:
            tbl = pf.read(columns=present)
            for c in present:
                uniq = pc.unique(tbl.column(c)).drop_null().to_pylist()
                if len(uniq) > set_max:
                    sets[c] = None
                    continue
                enc = [_stat_encode(v) for v in uniq]
                sets[c] = None if any(e is None for e in enc) else enc
        out[name] = sets
    return out


BLOOM_BITS = 1024
BLOOM_K = 4


def _ts_instant(v):
    """Canonicalize a datetime to its INSTANT as a naive-UTC value.
    Parquet timestamps read back tz-aware (TIMESTAMP isAdjustedToUTC)
    or naive depending on writer metadata, while Spark's TimestampType
    is instant-based — so an aware '2024-01-01T00:00:00+00:00' and a
    naive '2024-01-01T00:00:00' of the same instant must judge EQUAL
    everywhere the skipper compares or hashes them, or pruning drops
    rows the filter would keep (ADVICE r9, medium). Non-datetimes pass
    through unchanged; datetime.datetime is checked before its
    datetime.date superclass everywhere this is used."""
    import datetime

    if isinstance(v, datetime.datetime) and v.tzinfo is not None:
        return v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
    return v


def _probe_instant(v):
    """Canonicalize a PROBE value to naive UTC under the FILTER's own
    semantics (ADVICE r10): PySpark converts a naive datetime literal
    through ``time.mktime`` — the PYTHON PROCESS's local timezone, not
    the session timezone and not UTC (TimestampType.toInternal) — so
    the pruning comparison against the manifest's naive-UTC bounds must
    localize a naive probe the same way or prune and filter diverge
    whenever the process tz is not UTC. ``astimezone()`` on a naive
    datetime applies exactly that process-local rule. Aware datetimes
    are their own instant; everything else passes through."""
    import datetime

    if isinstance(v, datetime.datetime) and v.tzinfo is None:
        return (
            v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        )
    return _ts_instant(v)


def _bloom_canonical(v) -> tuple[str, bytes] | None:
    """(kind, canonical bytes) for bloom hashing, or None when the value
    cannot be judged safely. The canonical form must make every pair of
    values Spark's ``==`` would MATCH hash identically — in particular
    int 150 vs double 150.0 (Spark cast-compares numeric widths), so
    numbers canonicalize through exact Fraction reduction. bool, NaN,
    inf, and unknown types return None: a None on the WRITE side makes
    the whole file-column bloom unusable (absence is unprovable), a
    None on the PROBE side keeps the file."""
    import datetime
    import decimal
    from fractions import Fraction

    if isinstance(v, bool) or v is None:
        return None
    if isinstance(v, (int, float, decimal.Decimal)):
        try:
            f = Fraction(v)  # exact for int/float/Decimal; raises on nan/inf
        except (ValueError, OverflowError, decimal.InvalidOperation):
            return None
        return ("num", f"{f.numerator}/{f.denominator}".encode())
    if isinstance(v, str):
        return ("str", v.encode("utf-8"))
    if isinstance(v, datetime.datetime):
        # instant-canonical: naive and aware datetimes of the same
        # instant MUST hash identically, or the probe side returns a
        # false negative and wrongly prunes a file (ADVICE r9)
        return ("ts", _ts_instant(v).isoformat().encode())
    if isinstance(v, datetime.date):
        return ("date", v.isoformat().encode())
    return None


def _bloom_positions(payload: bytes, bits: int, k: int) -> list[int]:
    """Kirsch-Mitzenmacher double hashing over an md5 of the canonical
    bytes — pure Python on both the write and probe side, so the two
    sides cannot drift (no engine hash involved)."""
    import hashlib

    d = hashlib.md5(payload).digest()
    h1 = int.from_bytes(d[:8], "big")
    h2 = int.from_bytes(d[8:], "big") | 1  # odd: full-period stepping
    return [(h1 + i * h2) % bits for i in range(k)]


def collect_file_blooms(
    data_dir: str,
    cols: list[str],
    bits: int = BLOOM_BITS,
    k: int = BLOOM_K,
) -> dict:
    """Per-data-file BLOOM FILTERS for high-cardinality columns — the
    equality-probe complement to value sets: where a column's distinct
    count overflows the set cap (ids, urls, digests), a fixed-size
    bitmap still proves "this file cannot hold v" with no false
    negatives, at ``bits`` bits per file per column regardless of
    cardinality (the Iceberg-puffin / Parquet-bloom shape, kept in the
    manifest so planning needs no file I/O). Columnar projection read
    of just the named columns.

    Returns ``{filename: {col: {"kind", "bitmap"(hex)} | None}}`` —
    None when any non-null value fails to canonicalize (bool columns,
    NaN/inf members): one unhashable member makes absence unprovable,
    and an unusable bloom NEVER prunes. NULLs are excluded (equality
    and IN never match NULL)."""
    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    out: dict = {}
    for name in sorted(os.listdir(data_dir)):
        if not name.endswith(".parquet"):
            continue
        pf = pq.ParquetFile(os.path.join(data_dir, name))
        present = [c for c in cols if c in pf.schema_arrow.names]
        blooms: dict = {}
        if present:
            tbl = pf.read(columns=present)
            for c in present:
                uniq = pc.unique(tbl.column(c)).drop_null().to_pylist()
                bitmap = 0
                kind = None
                ok = True
                for v in uniq:
                    enc = _bloom_canonical(v)
                    if enc is None or (kind is not None and enc[0] != kind):
                        ok = False
                        break
                    kind = enc[0]
                    for p in _bloom_positions(enc[1], bits, k):
                        bitmap |= 1 << p
                blooms[c] = (
                    {
                        "kind": kind or "empty",
                        "bitmap": f"{bitmap:0{bits // 4}x}",
                    }
                    if ok
                    else None
                )
        out[name] = blooms
    return out


def _bloom_may_contain(bloom: dict | None, v, bits: int, k: int) -> bool:
    """Can a file whose recorded bloom is ``bloom`` hold a row equal to
    ``v``? True on ANY doubt: unusable bloom, unhashable probe (bool/
    NaN/inf — Spark matches NaN = NaN, Python cannot judge it), or a
    probe kind differing from the column's recorded kind (Spark would
    cast-compare across categories the canonical encoding keeps
    separate, e.g. date vs timestamp)."""
    if bloom is None:
        return True
    enc = _bloom_canonical(v)
    if enc is None:
        return True
    kind, payload = enc
    if bloom["kind"] == "empty":
        return False  # no non-null values at all: equality cannot match
    if kind != bloom["kind"]:
        return True
    bitmap = int(bloom["bitmap"], 16)
    return all(bitmap >> p & 1 for p in _bloom_positions(payload, bits, k))


def _lt(a, b) -> bool:
    return _stat_decode(a) < _stat_decode(b)


def write_version(
    df: DataFrame,
    root: str,
    sig_cols: list[str] | None = None,
    extra: dict | None = None,
    stats_cols: list[str] | None = None,
    set_cols: list[str] | None = None,
    set_max: int = 64,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = BLOOM_BITS,
    bloom_k: int = BLOOM_K,
) -> dict:
    """Write ``df`` as the next snapshot version; returns the manifest.

    ``sig_cols`` selects the checksum's canonical columns (default: all —
    callers with double columns should pass the engine-portable subset,
    see integrity.row_signature). ``extra`` merges caller metadata into
    the manifest (corpus recipe, upstream versions, ...). ``stats_cols``
    opts columns into file-level min/max skipping: their per-file
    statistics are harvested from the just-written parquet footers (a
    metadata read, not a second scan) and committed INSIDE the manifest,
    so :func:`scan_version` can plan a pruned file list — the
    Delta/Iceberg data-skipping shape on plain parquet. ``set_cols``
    additionally records per-file DISTINCT VALUE SETS (capped at
    ``set_max`` values per file per column; a columnar projection read
    of just those columns) so equality/IN predicates on unsorted
    low-cardinality columns prune exactly where min/max cannot — the
    set-index shape. ``bloom_cols`` records a fixed-size per-file
    BLOOM bitmap per column (``bloom_bits`` bits, ``bloom_k`` probes)
    for equality/IN pruning on HIGH-cardinality columns where the set
    cap overflows — bounded manifest growth at any cardinality, no
    false negatives, so pruning stays provably safe. The manifest file
    is the commit: it is written only after the data files land."""
    version = (latest_version(root) or 0) + 1
    sig = row_signature(sig_cols if sig_cols is not None else df.columns)
    obs = Observation(f"v{version}-manifest")
    # coalesce to the (0, 0) identity so an EMPTY snapshot commits the
    # same manifest table_checksum recomputes for it — without this,
    # verify_version reports ok=False forever on a legitimately-empty
    # version and combine_checksums raises on int(None)
    observed = df.observe(
        obs,
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.coalesce(F.bit_xor(sig), F.lit(0).cast("bigint")).alias("xor_sig"),
        F.coalesce(
            F.pmod(
                F.sum(sig.cast("decimal(38,0)")),
                F.lit(_CHECKSUM_MOD).cast("decimal(38,0)"),
            ).cast("bigint"),
            F.lit(0).cast("bigint"),
        ).alias("sum_sig"),
    )
    observed.write.mode("error").parquet(_data_path(root, version))
    got = obs.get  # populated by the write action — no second scan
    manifest = {
        "version": version,
        "n_rows": got["n_rows"],
        "xor_sig": got["xor_sig"],
        "sum_sig": got["sum_sig"],
        "sig_cols": list(sig_cols) if sig_cols is not None else list(df.columns),
        # encoding version of row_signature at commit time: lets a later
        # verify_version distinguish "manifest written under an older
        # canonical encoding" from actual data corruption (ADVICE r6)
        "sig_encoding": SIG_ENCODING,
        **(extra or {}),
    }
    if stats_cols or set_cols or bloom_cols:
        manifest["stats_cols"] = list(stats_cols or [])
        manifest["file_stats"] = collect_file_stats(
            _data_path(root, version), list(stats_cols or [])
        )
    if set_cols:
        manifest["set_cols"] = list(set_cols)
        sets = collect_file_value_sets(
            _data_path(root, version), list(set_cols), set_max
        )
        for name, s in sets.items():
            manifest["file_stats"].setdefault(
                name, {"n_rows": 0, "cols": {}}
            )["sets"] = s
    if bloom_cols:
        manifest["bloom_cols"] = list(bloom_cols)
        manifest["bloom_bits"] = int(bloom_bits)
        manifest["bloom_k"] = int(bloom_k)
        blooms = collect_file_blooms(
            _data_path(root, version), list(bloom_cols), bloom_bits, bloom_k
        )
        for name, b in blooms.items():
            manifest["file_stats"].setdefault(
                name, {"n_rows": 0, "cols": {}}
            )["blooms"] = b
    commit_manifest(
        _manifest_path(root, version),
        json.dumps(manifest, indent=1, sort_keys=True),
    )
    return manifest


def read_manifest(root: str, version: int) -> dict:
    with open(_manifest_path(root, version)) as f:
        return json.load(f)


def read_version(
    spark: SparkSession, root: str, version: int | None = None
) -> DataFrame:
    """Read a pinned snapshot (default: latest committed). Uncommitted
    (manifest-less) directories are invisible — a crashed writer can
    never be read."""
    if version is None:
        version = latest_version(root)
        if version is None:
            raise FileNotFoundError(f"no committed versions under {root}")
    elif version not in _versions(root):
        raise FileNotFoundError(f"version {version} not committed under {root}")
    return spark.read.parquet(_data_path(root, version))


_SKIP_OPS = {"==", "in", "<", "<=", ">", ">=", "is_null", "not_null"}


def _set_may_contain(decoded: list, v) -> bool:
    """Can a file whose recorded distinct set is ``decoded`` hold a row
    equal to ``v``? True on ANY doubt — in particular whenever the
    probe's type category differs from a set element's (Spark would
    cast-compare across types like int-vs-double or date-vs-timestamp,
    so a naive Python membership test could prune a file that actually
    matches; same-category compares are exactly Python's ==)."""
    import datetime

    def cat(x):
        if isinstance(x, bool):
            return "other"  # bool==1 conflation: never judge
        if isinstance(x, (int, float)):
            return "num"
        if isinstance(x, str):
            return "str"
        if isinstance(x, datetime.datetime):
            return "ts"
        if isinstance(x, datetime.date):
            return "date"
        return "other"

    def is_nan(x) -> bool:
        return isinstance(x, float) and x != x

    cv = cat(v)
    if cv == "other":
        return True
    # NaN: Spark SQL's equality and IN treat NaN = NaN as a MATCH
    # (NaN sorts/compares as a normal largest-double value), while
    # Python's nan == nan is False — judging with Python == would
    # wrongly prune a file whose set holds NaN for a NaN probe
    # (ADVICE r8). Spark's NaN-normalized equality is exactly: NaN
    # matches NaN and nothing else — so a NaN probe keeps the file iff
    # the set holds a NaN, and a non-NaN probe ignores NaN members.
    if is_nan(v):
        return any(is_nan(d) for d in decoded)
    members = [d for d in decoded if not is_nan(d)]
    if any(cat(d) != cv for d in members):
        return True
    # instant-canonical timestamps: naive vs aware datetimes of the same
    # instant compare False under Python == but MATCH under Spark ==, so
    # normalize both sides before judging (ADVICE r9 — same false-prune
    # class as the bloom hash)
    if cv == "ts":
        v = _ts_instant(v)
        members = [_ts_instant(d) for d in members]
    return any(v == d for d in members)


def _file_may_match(
    finfo: dict,
    conditions: list[tuple],
    bloom_bits: int = BLOOM_BITS,
    bloom_k: int = BLOOM_K,
) -> bool:
    """Can a file possibly hold a row satisfying the CONJUNCTION of
    ``conditions``, judging only by its manifest stats? Returns True on
    any doubt (missing column stats, unencodable value) — pruning must
    be provably safe, never heuristic."""
    for cond in conditions:
        op = cond[1] if len(cond) > 1 else None
        col = cond[0]
        if op is not None and op not in _SKIP_OPS:
            raise ValueError(f"unsupported skip predicate op {op!r}")
        # value-set check first: equality/IN against a recorded distinct
        # set prunes exactly, independent of ranges (None = unusable)
        vset = (finfo.get("sets") or {}).get(col)
        if vset is not None and op in ("==", "in"):
            want = cond[2] if op == "in" else [cond[2]]
            decoded = [_stat_decode(x) for x in vset]
            if not any(_set_may_contain(decoded, v) for v in want):
                return False
        # bloom check next: equality/IN against a per-file bitmap —
        # the high-cardinality complement (no false negatives, so a
        # miss on every probe value proves the file empty for this
        # conjunct). "blooms" may be absent or the per-column entry
        # None; both keep the file.
        blm = (finfo.get("blooms") or {}).get(col)
        if blm is not None and op in ("==", "in"):
            want = cond[2] if op == "in" else [cond[2]]
            if not any(
                _bloom_may_contain(blm, v, bloom_bits, bloom_k)
                for v in want
            ):
                return False
        st = finfo.get("cols", {}).get(col)
        if st is None:
            continue  # no range stats for this column: no range pruning
        n_rows = finfo.get("n_rows", 0)
        nulls = st.get("null_count", 0)
        if op == "is_null":
            if nulls == 0:
                return False
            continue
        if op == "not_null":
            if n_rows > 0 and nulls == n_rows:
                return False
            continue
        # comparison ops: NULL rows never satisfy them, so an all-null
        # file proves empty; otherwise judge against [min, max]
        if n_rows > 0 and nulls == n_rows:
            return False
        if st["min"] is None or st["max"] is None:
            continue
        lo, hi = _stat_decode(st["min"]), _stat_decode(st["max"])

        # NaN disables range judgment entirely (same contract as
        # _set_may_contain): Spark orders NaN ABOVE +inf and matches
        # NaN = NaN, while every Python comparison against nan is
        # False — so `lo <= nan <= hi` would prune a file that holds
        # the probe, and a file whose recorded max IS NaN has a range
        # Python cannot bound. Keep the file on any NaN sighting.
        def _nanish(x) -> bool:
            return isinstance(x, float) and x != x

        if _nanish(lo) or _nanish(hi):
            continue
        try:
            if op == "in":
                if any(_nanish(v) for v in cond[2]):
                    continue
                # _ts_instant: aware probes vs naive-UTC decoded bounds
                # would raise (kept-file, but pruning lost) — normalize
                if not any(lo <= _ts_instant(v) <= hi for v in cond[2]):
                    return False
                continue
            v = _ts_instant(cond[2])
            if _nanish(v):
                continue
            if op == "==" and (v < lo or v > hi):
                return False
            if op == ">=" and hi < v:
                return False
            if op == ">" and hi <= v:
                return False
            if op == "<=" and lo > v:
                return False
            if op == "<" and lo >= v:
                return False
        except TypeError:
            continue  # incomparable value type: keep the file
    return True


def scan_version(
    spark: SparkSession,
    root: str,
    conditions: list[tuple],
    version: int | None = None,
) -> DataFrame:
    """Predicate-pruned snapshot scan: plan the file list from the
    manifest's per-file min/max/null stats, read only the files the
    conjunctive ``conditions`` can possibly match, and apply the SAME
    conditions as real Spark filters — pruning is a planning
    optimization, never a semantics change, so
    ``scan_version(spark, root, conds, v)`` always equals
    ``read_version(spark, root, v).filter(conds)`` row-for-row (pinned
    by tests/test_versioned.py against that exact twin).

    ``conditions``: ``[("col", op, value), ...]`` with op in
    ``== in < <= > >= is_null not_null`` ("in" takes a non-empty list,
    the two null ops take no value), combined with AND. Files without
    stats for a referenced column are always kept; ``==``/``in`` prune
    against recorded value sets (``set_cols``) first, then per-file
    Bloom bitmaps (``bloom_cols``, the high-cardinality complement),
    then ranges.

    Timezone contract (ADVICE r10): a NAIVE datetime probe value means
    wall time in the PYTHON PROCESS's local timezone — that is how
    PySpark itself converts the same literal inside ``.filter``
    (``TimestampType.toInternal`` -> ``time.mktime``; neither UTC nor
    the session timezone) — so pruning localizes naive probes via the
    identical process-local rule before comparing against the
    manifest's naive-UTC bounds. On a UTC box that is the identity; a
    non-UTC process now prunes and filters consistently instead of
    silently false-pruning files whose rows the filter would keep.
    Pass tz-AWARE datetimes to be independent of the process tz.

    Scale shape: at 100 TB the win is DRIVER-side — a time- or
    key-range query over a snapshot with thousands of files plans a
    file list proportional to the range, before any footer I/O or task
    scheduling; Spark's own row-group skipping then handles the
    intra-file remainder of the pushed filters. An empty pruned list
    returns an empty DataFrame with the snapshot's schema (read via the
    full path's schema, no data tasks)."""
    if version is None:
        version = latest_version(root)
        if version is None:
            raise FileNotFoundError(f"no committed versions under {root}")
    manifest = read_manifest(root, version)
    file_stats = manifest.get("file_stats")
    if file_stats is None:
        raise ValueError(
            f"version {version} has no file_stats manifest section: "
            "write it with stats_cols=[...] to enable skipping"
        )
    data_dir = _data_path(root, version)
    # prune with FILTER-SEMANTICS probe values: PySpark reads a naive
    # datetime literal in the PROCESS-local timezone (see the timezone
    # contract above), so the pruning comparison against the manifest's
    # naive-UTC bounds localizes naive probes through the same rule
    # (ADVICE r10 — assuming UTC here would false-prune on a non-UTC
    # box while the filter kept the rows). The ORIGINAL values still
    # feed apply_conditions below: Spark applies its own conversion.
    prune_conditions = [
        (
            cond
            if len(cond) < 3
            else (
                cond[0],
                cond[1],
                [_probe_instant(x) for x in cond[2]]
                if cond[1] == "in"
                else _probe_instant(cond[2]),
            )
        )
        for cond in conditions
    ]
    kept = [
        os.path.join(data_dir, name)
        for name, finfo in sorted(file_stats.items())
        if _file_may_match(
            finfo,
            prune_conditions,
            manifest.get("bloom_bits", BLOOM_BITS),
            manifest.get("bloom_k", BLOOM_K),
        )
    ]

    def apply_conditions(df: DataFrame) -> DataFrame:
        for cond in conditions:
            col, op = cond[0], cond[1]
            c = F.col(col)
            if op == "is_null":
                df = df.where(c.isNull())
            elif op == "not_null":
                df = df.where(c.isNotNull())
            elif op == "in":
                if not cond[2]:
                    raise ValueError("'in' condition needs a non-empty list")
                df = df.where(c.isin(list(cond[2])))
            else:
                v = F.lit(cond[2])
                expr = {
                    "==": c == v,
                    "<": c < v,
                    "<=": c <= v,
                    ">": c > v,
                    ">=": c >= v,
                }[op]
                df = df.where(expr)
        return df

    if not kept:
        full = spark.read.parquet(data_dir)
        return apply_conditions(full).where(F.lit(False))
    return apply_conditions(spark.read.parquet(*kept))


def verify_version(
    spark: SparkSession, root: str, version: int | None = None
) -> dict:
    """Re-derive the content checksum from the stored files and compare
    to the manifest. Returns ``{"version", "ok", "reason", "expected",
    "actual"}``; ``ok`` is True iff rows + both signatures match — the
    pre-training / post-replication audit. ``reason`` disambiguates a
    failure: ``"sig_encoding_mismatch"`` means the manifest EXPLICITLY
    declares a different row_signature canonical encoding and the data
    was NOT judged — rewrite the snapshot to re-manifest it;
    ``"checksum_mismatch"`` is real row-content divergence. Manifests
    missing the field entirely are audited under the CURRENT encoding
    (they may well be current-encoding stores written before the field
    existed); a field-less store signed under an older encoding thus
    fails as checksum_mismatch — conservative, never blessed."""
    if version is None:
        version = latest_version(root)
        if version is None:
            raise FileNotFoundError(f"no committed versions under {root}")
    manifest = read_manifest(root, version)
    # A manifest MISSING the field is NOT assumed v1: the v2 canonical
    # encoding predates the field itself, so field-less manifests exist
    # with valid v2 signatures — defaulting to v1 would false-flag them
    # as sig_encoding_mismatch and SKIP the checksum audit, masking real
    # corruption in those stores (ADVICE r7). Instead, recompute under
    # the current encoding: a genuinely v1-signed store then fails
    # loudly as checksum_mismatch (conservative — never blesses), while
    # v2-signed field-less stores get the full audit. Only an EXPLICIT
    # differing field is a known-format gap worth short-circuiting.
    stored_enc = manifest.get("sig_encoding", SIG_ENCODING)
    if stored_enc != SIG_ENCODING:
        # recomputing under the current encoding would flag EVERY row as
        # changed — surface the format gap instead of a false tamper
        return {
            "version": version,
            "ok": False,
            "reason": "sig_encoding_mismatch",
            "expected": {"sig_encoding": stored_enc},
            "actual": {"sig_encoding": SIG_ENCODING},
        }
    from asterlake.operators.integrity import table_checksum

    got = table_checksum(
        spark.read.parquet(_data_path(root, version)),
        cols=manifest["sig_cols"],
    ).collect()[0]  # driver-ok: one manifest row
    actual = {
        "n_rows": got["n_rows"],
        "xor_sig": got["xor_sig"],
        "sum_sig": got["sum_sig"],
    }
    expected = {k: manifest[k] for k in ("n_rows", "xor_sig", "sum_sig")}
    ok = actual == expected
    return {
        "version": version,
        "ok": ok,
        "reason": None if ok else "checksum_mismatch",
        "expected": expected,
        "actual": actual,
    }


def vacuum_versions(root: str, keep_last: int = 2) -> dict:
    """Retention for the snapshot store: delete all but the newest
    ``keep_last`` COMMITTED versions (plus any uncommitted leftovers of
    already-vacuumed slots). Returns ``{"kept": [...], "removed": [...]}``.

    Crash-safe in the same commit-by-manifest discipline writes use, in
    reverse: the MANIFEST is deleted first (one atomic unlink makes the
    version invisible to every reader — ``read_version``/``_versions``
    ignore manifest-less directories), then the data files. A vacuum
    that dies mid-way leaves either a fully-visible version or an
    invisible data directory that the next vacuum finishes removing;
    no reader can observe a partially-deleted snapshot.

    Version numbers are never reused after a vacuum: ``write_version``
    allocates ``latest_version() + 1`` and the newest version is always
    kept, so the counter only moves forward.

    Safe against a CONCURRENT in-flight ``write_version``: the writer
    lands data files first and commits the manifest last, so at vacuum
    time the in-progress snapshot is a manifest-less directory at
    ``latest_committed + 1`` — indistinguishable by inspection from a
    crashed writer's leftover. Manifest-less directories are therefore
    only removed BELOW the newest committed version (a slot already
    vacuumed or superseded can never be the writer's live ``latest+1``
    allocation); the in-flight slot is left alone and, if the writer
    did crash, the NEXT vacuum (running after a newer commit) sweeps
    it (ADVICE r7).
    """
    import shutil

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1 (the latest must survive)")
    committed = _versions(root)
    keep = set(committed[-keep_last:])
    newest_committed = committed[-1] if committed else None
    removed: list[int] = []
    for v in _versions(root, committed_only=False):
        if v in keep:
            continue
        if v not in committed and (
            newest_committed is None or v > newest_committed
        ):
            # manifest-less slot ABOVE the newest commit: possibly a
            # concurrent writer's live allocation — never touch it
            continue
        manifest = _manifest_path(root, v)
        if os.path.isfile(manifest):
            os.remove(manifest)  # atomic: version now invisible
        shutil.rmtree(os.path.join(root, f"v={v}"), ignore_errors=True)
        removed.append(v)
    return {"kept": sorted(keep), "removed": removed}
