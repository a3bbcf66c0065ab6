"""Wildcard search over encoded events — CLP's grep as a Spark plan rewrite.

The reference compiles a wildcard query into subqueries of (logtype-pattern,
variable constraints) by probing the dictionaries BEFORE touching data
(clp/GrepCore.hpp:148-265, 328-422; EncodedVariableInterpreter.hpp:437-511),
then scans only rows whose logtype_id/vars can match, with a final
wildcard_match on the decoded message (clp/Grep.cpp:81-140).

Spark-first re-creation (plan-time, no custom Catalyst rules needed):

  1. probe the dictionaries at plan time:
       - exact variable tokens in the query -> encoded int/float literal or
         var-dict ids; a token with no dict match proves the query
         unsatisfiable -> ``lit(False)`` (the reference's WontMatch
         short-circuit, GrepCore.hpp:407-419)
       - a logtype LIKE pattern (query with variable tokens wildcarded)
         selects candidate logtype_ids -> ``logtype_id IN (...)``
       - dict-var ids select sinks through the (var_id, logtype_id) index
         and files through the manifest's bloom filters
     Each dictionary's driver residency is decided by
     ``decode.driver_rows``, the gate decode and enrich use too. While
     both dictionaries fit ``decode.map_fits`` (map mode), every probe
     answers from driver-resident state — the collected maps the decode
     broadcasts anyway, plus the collected var index — with no Spark job,
     like CLP's in-memory dictionary readers. A dictionary past the gate
     is probed with a filtered Spark scan that returns only the matching
     ids.
  2. the rewritten predicate is handed to Catalyst: IN on the partition
     column prunes sinks (partitionBy(logtype_id) layout), array_contains
     prunes rows, all JVM-side
  3. in map mode the candidate sinks are split on the driver
     (``plans.definite``, the reference's subqueries with and without
     ``wildcard_match_required``) into two branches, returned as their
     union — an OR inside one filter would still run the decode UDF on
     every row:
       - definite: logtypes whose every message matches, plus
         ``logtype_id IN (..) AND get(encoded_vars, k) IN (..)`` for slots
         whose value alone decides the match. JVM predicates only: a
         ``count()`` plans no Python node (the unused decode column is
         pruned);
       - possible: the remaining candidates, the quarantine sink and any
         logtype the analysis cannot settle, decoded (broadcast dictionary
         maps in one Arrow UDF) and checked with the exact wildcard match
         — the reference's final check. Rows are dropped without that
         check only where the analysis proves no other row can match.
     A branch over no sink the manifest lists is left out of the plan.
     Join mode (and events carrying their own logtype strings) keeps one
     possible branch over every candidate, decoded by the join strategy.

Steps 1-2 are a *pre-filter*: correctness never depends on them being
tight. Every row the plan returns either took the final check or was
proven to match by step 3's analysis.
"""

from __future__ import annotations

import functools
import operator
import re
import threading

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from clpspark.operators import aggregate as agg
from clpspark.ref import encoder as E
from clpspark.ref.wildcard import (
    clean_up_wildcard_search_string,
    wildcard_to_like,
)

_WILDCARDS = "*?"
_ESCAPED = re.compile(r"\\(.)", re.DOTALL)

# CLP bounds dictionary growth by splitting archives, and the reference scans
# its in-memory dictionary per query (clp/DictionaryReader.hpp:243-307) — but
# a merged/catalog-scale dictionary must NOT be collected to the driver. Past
# ``decode.map_fits`` (asked through ``decode.driver_rows``) the logtype
# wildcard probe runs as a filtered Spark scan instead: only matching ids
# come back. A Spark-side probe matching more ids than this carries no
# pruning power worth an IN list of that size — treat the query as
# logtype-unconstrained. The definite/possible split uses the same bound
# for its candidate logtypes and for each slot's var-id list.
LOGTYPE_PROBE_MAX_IDS = 10_000


def _query_tokens(query: str) -> list[tuple[str, bool]]:
    """Split a cleaned wildcard query into maximal non-delim token runs.

    Returns (token, exact) pairs where ``exact`` means the token is bounded
    by real delimiters on both sides (not adjacent to a wildcard and not at
    the string edge), so it must appear verbatim as one token in any matching
    message — the reference's QueryToken 'is_var' precondition
    (clp/QueryToken.cpp).
    """
    toks: list[tuple[str, bool]] = []
    n = len(query)
    i = 0
    while i < n:
        c = query[i]
        if c == "\\" and i + 1 < n:
            i += 2
            continue
        if not E.is_delim(c) and c not in _WILDCARDS:
            j = i
            while j < n and not E.is_delim(query[j]) and query[j] not in _WILDCARDS:
                j += 1
            left_ok = i > 0 and E.is_delim(query[i - 1]) and query[i - 1] not in _WILDCARDS
            right_ok = j < n and E.is_delim(query[j]) and query[j] not in _WILDCARDS
            toks.append((query[i:j], left_ok and right_ok))
            i = j
        else:
            i += 1
    return toks


def _logtype_like_pattern(query: str) -> str:
    """Query text with variable-classified tokens replaced by '%' -> a LIKE
    pattern over logtype strings (conservative: matches a superset)."""
    out: list[str] = []
    n = len(query)
    i = 0
    while i < n:
        c = query[i]
        if c == "\\" and i + 1 < n:
            out.append("%")  # escaped literal may sit anywhere; stay loose
            i += 2
            continue
        if c in _WILDCARDS:
            out.append("%")
            i += 1
            continue
        if not E.is_delim(c):
            j = i
            while j < n and not E.is_delim(query[j]) and query[j] not in _WILDCARDS:
                j += 1
            tok = query[i:j]
            # a token is boundary-exact only when flanked by the string
            # edge or a REAL delimiter: a neighboring escaped literal
            # (e.g. '\\\\' = one backslash, a non-delim) merges with the
            # token in any matching message, changing its var-ness
            left_exact = i == 0 or (
                E.is_delim(query[i - 1]) and query[i - 1] not in _WILDCARDS
            )
            right_exact = j >= n or (
                E.is_delim(query[j]) and query[j] not in _WILDCARDS
            )
            # keep tokens that can never be a variable in any message: no
            # digit, not multi-digit hex, and not '='-preceded-with-alpha
            never_var = (
                left_exact and right_exact
                and not any("0" <= ch <= "9" for ch in tok)
                and not E.could_be_multi_digit_hex_value(tok)
                and not (
                    i > 0 and query[i - 1] == "="
                    and any(ch.isascii() and ch.isalpha() for ch in tok)
                )
            )
            # tokens containing query-level escape backslashes go loose:
            # unescaping them here must mirror wildcard semantics exactly
            # (incl. a trailing '\' escaping the NEXT delimiter) and
            # escape_constant would re-escape — double-escaping pruned
            # true matches. '%' is always sound; only pruning precision
            # is lost, and only for backslash-bearing tokens.
            out.append(tok if never_var and "\\" not in tok else "%")
            i = j
        else:
            if c in "%_":
                out.append("%")
            else:
                # a raw placeholder byte in the query appears ESCAPED in
                # every logtype (encoder.escape_constant) — match that form
                out.append(E.escape_constant(c))
            i += 1
    pat = "".join(out)
    while "%%" in pat:
        pat = pat.replace("%%", "%")
    return "%" + pat + "%" if not pat.startswith("%") else pat + "%"


# from_work_dir memo: engines keyed by (spark app, dir, version signature).
# Insertion-ordered dict, FIFO-bounded at 8 entries. The module itself
# collects from run_jobs threads (and catalog search plans on them), so the
# cache and each engine's mutable per-query state are lock-guarded.
_ENGINE_CACHE: dict[tuple, "GrepEngine"] = {}
_ENGINE_CACHE_LOCK = threading.Lock()


def _work_dir_version(work_dir: str) -> tuple:
    """Change-detection signature of an archive work dir: mtime_ns of every
    table commit marker + the snapshot pointer + sidecar indexes. Any
    pipeline re-run rewrites at least one of these."""
    import os

    parts = []
    for rel in ("_snapshots/_current", "routed/_SUCCESS",
                "logtype_dict/_SUCCESS", "var_dict/_SUCCESS",
                "var_index/_SUCCESS", "range_index.json"):
        p = os.path.join(work_dir, rel)
        try:
            parts.append(os.stat(p).st_mtime_ns)
        except OSError:
            parts.append(None)
    return tuple(parts)


class _DictState:
    """Driver-resident state of one (logtype, var) dictionary pair,
    resolved lazily and at most once. Engines over the same pair (the leaf
    engines of a JSON archive) share one instance, so each collect runs
    once per archive. Lock-guarded: engines serve concurrent searches."""

    def __init__(self):
        self.lock = threading.Lock()
        # gate-checked (logtype_id, logtype) entries; None past the gate
        self.logtypes: list[tuple[int, str]] | None = None
        self.logtypes_resolved = False
        # resolved decode mode ("map"/"join") and why; None until resolved
        self.mode: str | None = None
        self.reason: str | None = None
        # map mode only: {var_id: var_str}, {logtype_id: logtype} and the
        # decoder broadcasting both
        self.var_map: dict[int, str] | None = None
        self.lt_map: dict[int, str] | None = None
        self.decoder = None
        # map mode only: logtype_id -> definite.parse_logtype, on first use
        self.parsed: dict[int, tuple] = {}
        # map mode only: var_str (lowered when ignore_case) -> var ids,
        # built on first use per case mode
        self.inverse: dict[bool, dict[str, list[int]]] = {}


class GrepEngine:
    """Search engine over a routed/enriched events table + its dictionaries.

    Scale contract, per decode mode (decode.py):

      - map (both dictionaries fit ``decode.map_fits``): the var and
        logtype dictionaries are collected once and broadcast for decode,
        and the same driver copies — plus the var index, under the same
        entry gate — answer every plan-time probe and the definite/possible
        split. The split walks each candidate logtype (at most
        ``LOGTYPE_PROBE_MAX_IDS``, else no split) and scans the var
        dictionary once per distinct slot context; a slot matching more
        var ids than that bound stays on the final check. A warm query
        runs only its own scan, and a definite-only one no Python.
      - join (either dictionary past the gate, or forced): decode joins
        and the var probes are filtered Spark scans (only matching ids come
        back to the driver). In auto mode a logtype dictionary that fits
        the gate on its own still answers the LIKE probe from the driver;
        forced join collects neither dictionary.

    Both modes resolve each dictionary through ``decode.driver_rows``, the
    same gate ``decode_messages`` and ``enrich`` use, so all three pick the
    same path for the same dictionary pair.
    """

    def __init__(self, events: DataFrame, logtype_dict: DataFrame,
                 var_dict: DataFrame, decode_mode: str = "auto",
                 var_index: DataFrame | None = None,
                 snapshot=None, snapshot_table: str = "routed",
                 file_stats: list[dict] | None = None,
                 range_index: list[dict] | None = None):
        """``var_index``: optional (var_id, logtype_id) inverted index
        (route.build_var_index) — prunes sinks for queries whose only
        constraints are dictionary variables (Archive.cpp:487-526 /
        Query.cpp:189 analog).

        ``snapshot``: optional :class:`clpspark.snapshots.SnapshotStore`
        whose manifest carries per-file min/max-ts + dict-var bloom stats
        for ``snapshot_table`` — enables manifest-level FILE skipping (the
        Iceberg layer of SURVEY §1.5) before Spark lists or opens footers.

        ``file_stats``: override the manifest's stats with a SUBSET (e.g.
        only the catalog-selected archives of a generation) — ``events``
        must already be restricted to the same subset; pruned reads then
        stay within it."""
        self.events = events
        self.spark = events.sparkSession
        self._lt_df = logtype_dict
        self._vd_df = var_dict
        # requested decode mode; the resolved one lives in self._dicts
        self._decode_mode = decode_mode
        self._dicts = _DictState()
        self._var_index = var_index
        # map mode: {var_id: {logtype_id}} from the var index, collected on
        # the first dict-var query (None past the gate -> Spark-side probe)
        self._var_index_by_var: dict[int, set[int]] | None = None
        self._var_index_resolved = False
        self._snapshot = snapshot
        self._snapshot_table = snapshot_table
        if file_stats is not None:
            self._file_stats = file_stats
        else:
            self._file_stats = (
                snapshot.stats(snapshot_table) if snapshot is not None else []
            )
        # per-row-range metadata KV for $-namespace pruning
        # (clp_s RangeIndexWriter.hpp:17-36; clpspark.range_index)
        self._range_index = range_index
        self._bloom_pos_cache: dict[int, list[int]] = {}
        # engines are shared across threads (memoized handles; catalog
        # searches fan out on run_jobs threads): guard the mutable
        # per-query state
        self._state_lock = threading.Lock()
        # observability: file count of the last snapshot-pruned scan on
        # this engine (None = no snapshot / nothing pruned, full table
        # scanned). Under concurrent searches it reflects whichever scan
        # planned last — a progress gauge, not a per-query result.
        self.last_scan_files: int | None = None
        # decision record of the last search() on this engine (same
        # caveat): decode_mode and decode_reason, definite_logtypes (ids
        # whose every row matches), definite_slots (the number of
        # (logtype, slot) value predicates), possible (whether the
        # decode + final-match branch is in the plan) and sinks (logtype
        # sinks the plan reads; None = unconstrained)
        self.last_plan: dict | None = None

    @classmethod
    def from_snapshot(cls, spark, work_dir: str, **kw) -> "GrepEngine":
        """Engine over the CURRENT snapshot of a pipeline work dir: every
        table (events, dictionaries, var index) is read via the manifest's
        exact file list — plus file-level skipping from the stats.

        Consistency contract: the engine's view is the snapshot taken at
        construction. That protects against seeing a HALF-PUBLISHED commit,
        but not against a writer that rewrites table files in place — the
        pipeline's ``mode=overwrite`` re-runs DELETE old part files, so an
        engine built before a re-run errors on its next scan. Rebuild the
        engine after a pipeline re-run (or, at real scale, write fresh
        uniquely-named files per run, which makes old snapshots readable —
        the Iceberg discipline this module mirrors)."""
        from clpspark.operators.enrich import (
            LOGTYPE_DICT_SCHEMA,
            VAR_DICT_SCHEMA,
        )
        from clpspark.operators.route import VAR_INDEX_SCHEMA
        from clpspark.snapshots import SnapshotStore

        store = SnapshotStore(work_dir)
        m = store.manifest()
        if m is None:
            raise FileNotFoundError(f"no snapshot under {work_dir}")
        # the tables the pipeline writes with a declared schema open with
        # no Spark job; routed keeps inference (its partition column reads
        # back as int where the written column was bigint)
        return cls(
            store.read_table(spark, "routed"),
            store.read_table(spark, "logtype_dict",
                             schema=LOGTYPE_DICT_SCHEMA),
            store.read_table(spark, "var_dict", schema=VAR_DICT_SCHEMA),
            var_index=(store.read_table(spark, "var_index",
                                        schema=VAR_INDEX_SCHEMA)
                       if "var_index" in m["tables"] else None),
            snapshot=store,
            **kw,
        )

    @classmethod
    def from_work_dir(cls, spark, work_dir: str, **kw) -> "GrepEngine":
        """The one constructor callers should use over a pipeline work dir:
        snapshot-backed when a manifest exists (file skipping + exact file
        lists), plain parquet reads (+ var_index when present) otherwise.

        Construction plus the first query's dictionary collects are
        ~half of a cold single-query search, so engines (and the driver
        state they resolve) are MEMOIZED per (session, dir, archive
        version): repeated CLI/driver calls against an unchanged archive
        reuse the built engine; any pipeline re-run bumps the
        version signature (table _SUCCESS mtimes + snapshot pointer) and
        re-resolves. Only parameterless calls are cached."""
        import os

        key = None
        if not kw:
            sig = _work_dir_version(work_dir)
            key = (spark.sparkContext.applicationId,
                   os.path.abspath(work_dir), sig)
            with _ENGINE_CACHE_LOCK:
                cached = _ENGINE_CACHE.get(key)
            if cached is not None:
                return cached
        eng = cls._from_work_dir_uncached(spark, work_dir, **kw)
        if key is not None:
            with _ENGINE_CACHE_LOCK:
                # racing builders: first insert wins, both get a valid engine
                if key in _ENGINE_CACHE:
                    return _ENGINE_CACHE[key]
                if len(_ENGINE_CACHE) >= 8:  # bound stale-session retention
                    _ENGINE_CACHE.pop(next(iter(_ENGINE_CACHE)))
                _ENGINE_CACHE[key] = eng
        return eng

    @classmethod
    def _from_work_dir_uncached(cls, spark, work_dir: str, **kw) -> "GrepEngine":
        import os

        if "range_index" not in kw:
            from clpspark.range_index import read_range_index

            kw["range_index"] = read_range_index(work_dir)
        from clpspark.operators.enrich import (
            LOGTYPE_DICT_SCHEMA,
            VAR_DICT_SCHEMA,
        )
        from clpspark.operators.route import VAR_INDEX_SCHEMA

        if os.path.exists(os.path.join(work_dir, "_snapshots", "_current")):
            return cls.from_snapshot(spark, work_dir, **kw)
        idx = os.path.join(work_dir, "var_index")
        return cls(
            spark.read.parquet(os.path.join(work_dir, "routed")),
            spark.read.schema(LOGTYPE_DICT_SCHEMA).parquet(
                os.path.join(work_dir, "logtype_dict")),
            spark.read.schema(VAR_DICT_SCHEMA).parquet(
                os.path.join(work_dir, "var_dict")),
            var_index=(
                spark.read.schema(VAR_INDEX_SCHEMA).parquet(idx)
                if os.path.exists(idx) else None
            ),
            **kw,
        )

    def _events_for(
        self,
        tge: int | None,
        tle: int | None,
        dict_hits: list[list[int]] | None,
    ) -> tuple[DataFrame, set[int] | None]:
        """Events scan, file-pruned through the snapshot manifest when
        available, and the logtype ids of the sinks it can read (None =
        unknown: no manifest). Pure pre-filter: the pruned set is a
        superset of files that can hold matches; row-level predicates
        still apply."""
        if self._snapshot is None or not self._file_stats:
            self.last_scan_files = None
            return self.events, None
        from clpspark.snapshots import prune_files

        with self._state_lock:  # prune_files mutates the shared pos cache
            kept = prune_files(
                self.spark, self._file_stats, tge=tge, tle=tle,
                dict_hits=dict_hits or None, pos_cache=self._bloom_pos_cache,
            )
        sinks = {s["logtype_id"] for s in kept}
        if len(kept) == len(self._file_stats):
            self.last_scan_files = None
            return self.events, sinks
        self.last_scan_files = len(kept)
        # the full table's schema (incl. the int logtype_id partition
        # column the pruned read produces) spares an inference job
        return self._snapshot.read_table(
            self.spark, self._snapshot_table,
            files=[s["file"] for s in kept], schema=self.events.schema,
        ), sinks

    # ------------------------------------------------------------- plan time
    def _probe_var_ids(
        self, tokens: list[str], ignore_case: bool
    ) -> dict[str, list[int]]:
        """Var-dict ids of every query token. Map mode answers from the
        driver's inverse of the decode map; join mode runs one filtered
        dictionary scan that returns only the matching (var_str, var_id)
        rows — a point lookup, not a collect of the dictionary (GrepCore
        probes its dictionary reader the same way,
        clp/GrepCore.hpp:328-422)."""
        if not tokens:
            return {}
        inv = self._inverse_var_map(ignore_case)
        if inv is not None:
            return {t: inv.get(t.lower() if ignore_case else t, [])
                    for t in tokens}
        key = F.lower(F.col("var_str")) if ignore_case else F.col("var_str")
        probes = [t.lower() for t in tokens] if ignore_case else tokens
        rows = (
            self._vd_df.where(key.isin(probes))
            .select(key.alias("k"), "var_id")
            .collect()
        )
        out: dict[str, list[int]] = {t: [] for t in probes}
        for r in rows:
            out[r["k"]].append(r["var_id"])
        if ignore_case:
            return {t: out[t.lower()] for t in tokens}
        return out

    def _inverse_var_map(self, ignore_case: bool
                         ) -> dict[str, list[int]] | None:
        """var_str (lowered when ``ignore_case``) -> var ids, inverted once
        per case mode from the map-mode decode map; None in join mode."""
        d = self._resolve_decode()
        if d.mode != "map":
            return None
        with d.lock:
            inv = d.inverse.get(ignore_case)
            if inv is None:
                inv = {}
                for vid, vs in d.var_map.items():
                    if vs is not None:
                        inv.setdefault(vs.lower() if ignore_case else vs,
                                       []).append(vid)
                d.inverse[ignore_case] = inv
            return inv

    def _var_constraints(self, query: str, ignore_case: bool):
        """Dictionary pre-filter: Column predicates + WontMatch detection.

        Query variables must appear as an IN-ORDER (possibly non-contiguous)
        subsequence of the row's encoded vars — the reference's matches_vars
        semantics (clp/Query.cpp:122-201) — not just unordered membership:
        ordering admits strictly fewer false candidates into the decode UDF.
        """
        ordered: list[list[int]] = []  # acceptable int64s per query var, in order
        pending: list[tuple[int, str]] = []  # (position, dict token)
        for tok, exact in _query_tokens(query):
            if not exact:
                continue
            # the query text keeps its escapes (``\\`` for a literal
            # backslash); the dictionary holds the literal string
            tok = _ESCAPED.sub(r"\1", tok)
            iv = E.encode_int(tok)
            if iv is not None:
                ordered.append([iv])
                continue
            fv = E.encode_float(tok)
            if fv is not None:
                ordered.append([fv])
                continue
            if not E.is_var(tok):
                continue  # constant token; logtype pattern covers it
            pending.append((len(ordered), tok))
            ordered.append([])  # filled from the dictionary probe below
        hits = self._probe_var_ids([t for _, t in pending], ignore_case)
        dict_hits: list[list[int]] = []
        for pos, tok in pending:
            ids = hits[tok]
            if not ids:
                return None  # WontMatch: required var absent from dictionary
            ordered[pos] = ids
            dict_hits.append(ids)
        if not ordered:
            return [], dict_hits
        if len(ordered) == 1:
            vals = ordered[0]
            if len(vals) == 1:
                return [F.array_contains("encoded_vars", F.lit(vals[0]))], dict_hits
            return [
                F.arrays_overlap(
                    "encoded_vars", F.array(*[F.lit(i) for i in vals])
                )
            ], dict_hits
        return [_ordered_subsequence_pred(ordered)], dict_hits

    def _index_logtype_ids(self, dict_hits: list[list[int]]) -> set[int] | None:
        """Sinks that can satisfy EVERY dict-var constraint, per the
        (var_id, logtype_id) inverted index. None = index unavailable or no
        dict constraints (no pruning signal)."""
        if self._var_index is None or not dict_hits:
            return None
        all_ids = sorted({i for ids in dict_hits for i in ids})
        by_var = self._var_index_map()
        if by_var is None:
            by_var = {}
            for r in (self._var_index.where(F.col("var_id").isin(all_ids))
                      .select("var_id", "logtype_id").collect()):
                by_var.setdefault(r["var_id"], set()).add(r["logtype_id"])
        result: set[int] | None = None
        for ids in dict_hits:
            lts: set[int] = set()
            for i in ids:
                lts |= by_var.get(i, set())
            result = lts if result is None else (result & lts)
            if not result:
                return set()
        return result

    def _var_index_map(self) -> dict[int, set[int]] | None:
        """{var_id: {logtype_id}} collected once in map mode while the index
        fits ``decode.map_fits``'s entry gate; None -> Spark-side probes."""
        with self._state_lock:
            if self._var_index_resolved:
                return self._var_index_by_var
        by_var = None
        if self._resolve_decode().mode == "map":
            from clpspark.operators.decode import collect_if_fits

            rows = collect_if_fits(self._var_index, ["var_id", "logtype_id"])
            if rows is not None:
                by_var = {}
                for vid, lid in rows:
                    by_var.setdefault(vid, set()).add(lid)
        with self._state_lock:
            if not self._var_index_resolved:
                self._var_index_by_var = by_var
                self._var_index_resolved = True
            return self._var_index_by_var

    def _logtype_entries(self) -> list[tuple[int, str]] | None:
        """Driver-side (logtype_id, logtype) rows from ``decode.driver_rows``
        under the engine's decode mode, resolved once: None when the
        dictionary stays in Spark (probes stay Spark-side), and without
        any job when join mode was forced."""
        if self._decode_mode == "join":
            return None
        d = self._dicts
        with d.lock:
            if d.logtypes_resolved:
                return d.logtypes
        # collect OUTSIDE the lock: _resolve_decode overlaps this job with
        # the var-dict collect on another thread (racing builders are rare
        # and both produce the same value; first publisher wins)
        from clpspark.operators.decode import driver_rows

        rows = driver_rows(self._lt_df, ["logtype_id", "logtype"], "logtype",
                           self._decode_mode)
        with d.lock:
            if not d.logtypes_resolved:
                d.logtypes = rows
                d.logtypes_resolved = True
            return d.logtypes

    def _candidate_logtype_ids(
        self, query: str, ignore_case: bool
    ) -> list[int] | None:
        """Sink ids whose logtype can match the query's pattern; None = no
        pruning signal (all-wildcard pattern, or a large-dictionary probe
        matching too many ids to be worth an IN list)."""
        pat = _logtype_like_pattern(query)
        if ignore_case:
            pat = pat.lower()
        if pat.strip("%") == "":
            return None  # matches every logtype: IN (everything) is noise
        entries = self._logtype_entries()
        if entries is not None:
            like = _sql_like_match(pat)
            out = []
            for lid, lt in entries:
                hay = lt.lower() if ignore_case else lt
                if like(hay):
                    out.append(lid)
            return out
        # large dictionary: filtered Spark scan — the reference's in-memory
        # dictionary wildcard scan, without driver residency. Only matching
        # ids return; an over-wide match degrades to "unconstrained".
        key = F.lower(F.col("logtype")) if ignore_case else F.col("logtype")
        rows = (
            self._lt_df.where(key.rlike(_like_to_java_regex(pat)))
            .select("logtype_id")
            .limit(LOGTYPE_PROBE_MAX_IDS + 1)
            .collect()
        )
        if len(rows) > LOGTYPE_PROBE_MAX_IDS:
            return None
        return [r["logtype_id"] for r in rows]

    def _definite_split(self, q: str, ignore_case: bool,
                        lids: list[int] | None):
        """Driver-side definite/possible split of the candidate logtypes
        (``plans.definite``): ``(definite_all, terms, possible)`` with
        ``terms`` a list of ``(logtype_id, slot, encoded values)`` that each
        make a row a definite match. Candidates in neither list cannot hold
        a match. None = no split (join mode, events carrying their own
        logtype strings, a query or logtype whose case folding may differ
        between Python and the JVM, or more candidates than an IN list is
        worth): every candidate then gets the final check."""
        d = self._resolve_decode()
        if (d.mode != "map" or "logtype" in self.events.columns
                or (ignore_case and not q.isascii())):
            return None
        inverse = self._inverse_var_map(ignore_case)
        if "" in inverse:  # the relaxed model assumes non-empty variables
            return None
        from clpspark.operators.route import UNKNOWN_LOGTYPE_ID
        from clpspark.plans.definite import Analysis, parse_logtype

        cands = sorted(d.lt_map) if lids is None else lids
        if len(cands) > LOGTYPE_PROBE_MAX_IDS:
            return None
        by_var = self._var_index_map() if self._var_index is not None else None
        an = Analysis(q, ignore_case, inverse, LOGTYPE_PROBE_MAX_IDS)
        definite, terms, possible = [], [], []
        for lid in cands:
            if lid == UNKNOWN_LOGTYPE_ID:
                continue  # the quarantine sink always takes the final check
            parsed = d.parsed.get(lid)
            if parsed is None:
                lt = d.lt_map.get(lid)
                if lt is None:  # not in the dictionary: decode renders a marker
                    possible.append(lid)
                    continue
                parsed = d.parsed[lid] = parse_logtype(lt)
            items, ascii_only = parsed
            if ignore_case and not ascii_only:
                possible.append(lid)
                continue
            res = an.logtype(items)
            if res is None:
                continue
            all_match, slots, exhaustive = res
            if all_match:
                definite.append(lid)
                continue
            for slot, ph, vals in slots:
                if ph == E.PLACEHOLDER_DICT and by_var is not None:
                    vals = [v for v in vals if lid in by_var.get(v, ())]
                if vals:
                    terms.append((lid, slot, vals))
            if not exhaustive:
                possible.append(lid)
        return definite, terms, possible

    # -------------------------------------------------------------- execution
    def _scan(self, tge: int | None, tle: int | None,
              dict_hits: list[list[int]] | None, source: str | None,
              meta: dict[str, str] | None, ignore_case: bool
              ) -> tuple[DataFrame, set[int] | None]:
        """The event rows every search path starts from: the manifest- and
        partition-pruned scan (``_events_for``) narrowed by the range-index
        ``meta`` filters, ``source`` and the ``tge``/``tle`` bounds; plus
        the logtype ids of the sinks the scan can read (None = unknown)."""
        df, sinks = self._events_for(tge, tle, dict_hits)
        if meta is not None:
            from clpspark.range_index import match_ranges, range_predicate

            df = df.where(range_predicate(match_ranges(
                self._range_index, meta, case_sensitive=not ignore_case)))
        if source is not None:
            df = df.where(F.col("source") == F.lit(source))
        if tge is not None:
            df = df.where(F.col("ts") >= F.lit(tge))
        if tle is not None:
            df = df.where(F.col("ts") <= F.lit(tle))
        return df, sinks

    def search(
        self,
        query: str,
        ignore_case: bool = False,
        tge: int | None = None,
        tle: int | None = None,
        limit: int | None = None,
        prefilter: bool = True,
        source: str | None = None,
        meta: dict[str, str] | None = None,
    ) -> DataFrame:
        """Rows matching the wildcard query; returns events + decoded message.

        ``source`` mirrors the reference's --file-path restriction
        (clp/clo/clo.cpp, fs_search_task.py:45-48).

        ``meta``: $-namespace metadata filters ({key: wildcard pattern})
        evaluated against the archive's range index on the driver
        (clp_s/search/EvaluateRangeIndexFilters.cpp analog); matching
        ranges become doc_id BETWEEN predicates pushed into the scan, a
        query matching no range short-circuits to lit(False).

        The plan facts of the call land in ``last_plan``."""
        q = clean_up_wildcard_search_string(query)
        constraints = (
            self._var_constraints(q, ignore_case)
            if (prefilter and q != "*")
            else ([], [])
        )
        df, sinks = self._scan(tge, tle, constraints[1] if constraints else None,
                               source, meta, ignore_case)
        plan = {"definite_logtypes": [], "definite_slots": 0,
                "possible": True, "sinks": None}
        if q == "*":
            out = self._decode(df)
        elif not prefilter:
            out = self._final_match(self._decode(df), q, ignore_case)
        elif constraints is None:
            plan["possible"], plan["sinks"] = False, 0
            out = self._decode(df.where(F.lit(False)))
        else:
            out = self._prefiltered(df, sinks, q, ignore_case, *constraints,
                                    plan)
        d = self._dicts
        plan["decode_mode"], plan["decode_reason"] = d.mode, d.reason
        with self._state_lock:
            self.last_plan = plan
        return out.limit(limit) if limit else out

    def _prefiltered(self, df: DataFrame, sinks: set[int] | None, q: str,
                     ignore_case: bool, preds: list, dict_hits: list[list[int]],
                     plan: dict) -> DataFrame:
        """Dictionary-pruned search: candidate sinks from the logtype probe
        and the var index, split into a definite branch (JVM predicates
        only) and a possible branch (decode + final wildcard match),
        returned as their union. Either branch is left out when it can
        read no row; without a split every candidate is possible."""
        from clpspark.operators.route import UNKNOWN_LOGTYPE_ID

        lids = self._candidate_logtype_ids(q, ignore_case)
        # all-dict-var queries have an all-wildcard logtype pattern
        # (lids = None, unconstrained); the inverted index narrows them
        # to sinks that actually co-contain every required dict var
        idx_lids = self._index_logtype_ids(dict_hits)
        if idx_lids is not None:
            lids = (sorted(idx_lids) if lids is None
                    else [lid for lid in lids if lid in idx_lids])
        split = self._definite_split(q, ignore_case, lids)
        if split is None:
            definite, terms = [], []
            possible = None if lids is None else list(lids)
        else:
            definite, terms, possible = split
            if lids is None and sinks is not None:
                # unconstrained: sinks whose logtype the dictionary lacks
                # were not analysed
                d = self._dicts
                possible += sorted(s for s in sinks if s not in d.lt_map)
        # the quarantine sink (streaming rows whose logtype was absent
        # from the fixed dictionary, route.UNKNOWN_LOGTYPE_ID) can't be
        # probed at plan time — its logtype strings aren't in the dict —
        # so it is ALWAYS possible, even when a var_index omits it (an
        # index snapshot taken before later quarantined batches would
        # otherwise turn the prefilter into a row-dropping filter).
        # Partition pruning makes the extra id free when the sink doesn't
        # exist; prefiltered search stays a pure superset.
        if possible is not None and UNKNOWN_LOGTYPE_ID not in possible:
            possible = [*possible, UNKNOWN_LOGTYPE_ID]
        if sinks is not None:
            # the manifest lists every sink the scan can read: a branch
            # over none of them is left out of the plan
            definite = [lid for lid in definite if lid in sinks]
            terms = [t for t in terms if t[0] in sinks]
            if possible is not None:
                possible = [lid for lid in possible if lid in sinks]
        branches = []
        term_ids = sorted({t[0] for t in terms})
        if definite or terms:
            # one filter per branch: each where() is a py4j round trip
            cond = _in_sql("logtype_id", definite + term_ids)
            if terms:
                alts = [_in_sql("logtype_id", definite)] if definite else []
                cond += f" AND ({' OR '.join(alts + _terms_sql(terms))})"
            branches.append(self._decode(df.where(F.expr(cond))))
        if possible is None or possible:
            conds = list(preds)
            if possible is not None:
                conds.insert(0, F.expr(_in_sql("logtype_id", possible)))
            # (terms come only with a split, whose possible is a list)
            poss_terms = [t for t in terms if t[0] in possible]
            if poss_terms:
                # disjoint from the definite branch (get() of a short
                # array is NULL, so coalesce keeps such rows possible)
                conds.append(F.expr(
                    f"NOT coalesce({' OR '.join(_terms_sql(poss_terms))}, "
                    "false)"))
            if conds:
                df = df.where(functools.reduce(operator.and_, conds))
            branches.append(self._final_match(self._decode(df), q,
                                              ignore_case))
        plan.update(
            definite_logtypes=sorted(definite), definite_slots=len(terms),
            possible=possible is None or bool(possible),
            sinks=(None if possible is None
                   else len(set(definite) | set(term_ids) | set(possible))))
        if not branches:
            return self._decode(df.where(F.lit(False)))
        return functools.reduce(DataFrame.union, branches)

    def search_regex(self, regex: str, ignore_case: bool = False,
                     **kw) -> DataFrame:
        """Regex front-end: translate to a wildcard query when expressible
        (clp/regex_utils/regex_translation_utils.cpp) so the dictionary
        pre-filters apply; untranslatable regexes fall back to a decode +
        rlike full scan (still partition-pruned by any ts/source filters)."""
        from clpspark.ref.regex_translate import (
            RegexTranslationError,
            regex_to_wildcard,
        )

        try:
            wild = regex_to_wildcard(
                regex, case_insensitive=ignore_case,
                add_prefix_suffix_wildcards=True,
            )
        except RegexTranslationError:
            df, _ = self._scan(kw.pop("tge", None), kw.pop("tle", None),
                               None, kw.pop("source", None),
                               kw.pop("meta", None), ignore_case)
            limit = kw.pop("limit", None)
            pat = f"(?i){regex}" if ignore_case else regex
            out = self._decode(df).where(F.col("message").rlike(pat))
            return out.limit(limit) if limit else out
        return self.search(wild, ignore_case=ignore_case, **kw)

    def count(self, query: str, **kw) -> DataFrame:
        return self.search(query, **kw).agg(F.count("*").alias("n_rows"))

    def count_by_time(self, query: str, bucket_ms: int, **kw) -> DataFrame:
        return agg.count_by_time(self.search(query, **kw), bucket_ms)

    def topk_latest(self, query: str, k: int, **kw) -> DataFrame:
        return agg.topk_latest(self.search(query, **kw), k)

    def topk_latest_windowed(
        self, query: str, k: int, window_ms: int = 3_600_000, **kw
    ) -> DataFrame:
        """Top-k latest with newest-first early exit.

        The reference walks archives newest-first and stops once its heap
        holds k results newer than any remaining archive
        (clp/clo/OutputHandler.hpp:188-201, query_scheduler.py:863). Spark
        analog: probe the newest matching window first and widen backwards
        (x4) only while it holds fewer than k matches — each probe is a
        ts-range predicate that prunes at the parquet row-group/stats layer,
        so the common case decodes a sliver of the data instead of
        everything. Results are identical to :meth:`topk_latest`. The
        table's ts range folds from the manifest's per-file stats when the
        engine has them (no job); otherwise one min/max scan finds it.
        """
        # caller-supplied time bounds intersect the probe window (forwarding
        # them verbatim would duplicate the tge/tle keywords in search())
        caller_tge = kw.pop("tge", None)
        caller_tle = kw.pop("tle", None)
        if self._file_stats:
            # the manifest's per-file ts ranges cover the events: no job
            hi = max((s["max_ts"] for s in self._file_stats
                      if s["max_ts"] is not None), default=None)
            lo = min((s["min_ts"] for s in self._file_stats
                      if s["min_ts"] is not None), default=None)
        else:
            bounds = self.events.agg(
                F.max("ts").alias("hi"), F.min("ts").alias("lo")
            ).first()
            hi, lo = bounds["hi"], bounds["lo"]
        if hi is None:
            return self.topk_latest(query, k, tge=caller_tge, tle=caller_tle,
                                    **kw)
        if caller_tle is not None:
            hi = min(hi, caller_tle)
        if caller_tge is not None:
            lo = max(lo, caller_tge)
        delta = window_ms
        while True:
            tge = hi - delta + 1
            out = self.search(query, tge=max(tge, lo), tle=hi, **kw)
            if tge <= lo or out.limit(k).count() >= k:
                return agg.topk_latest(out, k)
            delta *= 4

    def _decode(self, df: DataFrame, out_col: str = "message") -> DataFrame:
        """Reconstruct messages of (pre-filtered) survivors with the
        engine's resolved strategy (decode.decode_messages): the engine's
        MapDecoder over both broadcast dictionaries in map mode, joins in
        join mode."""
        from clpspark.operators.decode import decode_messages

        d = self._resolve_decode()
        return decode_messages(
            df,
            self._vd_df,
            logtype_dict=self._lt_df,
            mode=d.mode,
            out_col=out_col,
            decoder=d.decoder,
        )

    def _resolve_decode(self) -> _DictState:
        """Resolve the decode strategy once: map mode iff
        ``decode.driver_rows`` keeps BOTH dictionaries on the driver (the
        var-dict collect overlapping the logtype one), which are then
        broadcast; join mode otherwise."""
        d = self._dicts
        with d.lock:
            if d.mode is not None:
                return d
        from clpspark.operators.decode import MapDecoder, driver_rows
        from clpspark.operators.util import run_jobs

        # the two collects overlap and run OUTSIDE the lock; first
        # publisher wins
        got = run_jobs(self.spark, {
            "var_dict": lambda: driver_rows(
                self._vd_df, ["var_id", "var_str"], "var_str",
                self._decode_mode),
            "logtype_dict": self._logtype_entries,
        }, max_workers=2)
        rows, entries = got["var_dict"], got["logtype_dict"]
        with d.lock:
            if d.mode is None:
                if self._decode_mode != "auto":
                    d.reason = f"forced {self._decode_mode}"
                elif entries is None:
                    d.reason = "logtype dictionary past decode.map_fits"
                elif rows is None:
                    d.reason = "var dictionary past decode.map_fits"
                else:
                    d.reason = "both dictionaries fit decode.map_fits"
                if rows is None or entries is None:
                    d.mode = "join"
                else:
                    d.mode = "map"
                    d.var_map, d.lt_map = dict(rows), dict(entries)
                    d.decoder = MapDecoder(self.spark, d.var_map, d.lt_map)
            return d

    @staticmethod
    def _final_match(decoded: DataFrame, q: str, ignore_case: bool) -> DataFrame:
        col = F.col("message")
        pat = q
        if ignore_case:
            col = F.lower(col)
            pat = q.lower()
        like = wildcard_to_like(pat)
        if like is not None:
            return decoded.where(col.like(like))
        from clpspark.ref.wildcard import wildcard_to_java_regex

        return decoded.where(col.rlike(wildcard_to_java_regex(pat)))


def _ordered_subsequence_pred(ordered: list[list[int]]):
    """encoded_vars contains one acceptable value per query var, in query
    order (ordered subsequence; clp/Query.cpp matches_vars). A single
    aggregate() fold over the tiny per-row array — JVM-side, no shuffle."""
    n = len(ordered)
    branches = " ".join(
        f"WHEN acc = {i} AND v IN ({', '.join(map(_long_sql, vals))}) "
        f"THEN {i + 1}"
        for i, vals in enumerate(ordered)
    )
    return F.expr(
        f"aggregate(encoded_vars, 0, (acc, v) -> CASE {branches} ELSE acc END)"
        f" = {n}"
    )


def _long_sql(v: int) -> str:
    """A bigint SQL literal (the minimum has no positive counterpart)."""
    return "(-9223372036854775807L - 1L)" if v == -(1 << 63) else f"{v}L"


def _in_sql(col: str, ids) -> str:
    """``col IN (...)`` as one parsed expression: ``isin()`` converts each
    literal through py4j (~140 ms for ~54 ids)."""
    return f"{col} IN ({', '.join(str(int(i)) for i in ids)})"


def _terms_sql(terms: list[tuple[int, int, list[int]]]) -> list[str]:
    """Definite slot predicates, one per (slot, values) with every logtype
    sharing them. ``get`` (NULL past the end) rather than ``[]``: under
    ANSI mode an index past a row's array raises, and Spark may evaluate
    the slot of one logtype's term on rows of another."""
    groups: dict[tuple, list[int]] = {}
    for lid, slot, vals in terms:
        groups.setdefault((slot, tuple(vals)), []).append(lid)
    return [
        f"({_in_sql('logtype_id', lids)} AND get(encoded_vars, {slot}) IN "
        f"({', '.join(map(_long_sql, vals))}))"
        for (slot, vals), lids in groups.items()
    ]


def _like_to_java_regex(pattern: str) -> str:
    """%-pattern -> Java regex for a Spark-side rlike probe. Literal runs
    are \\Q-quoted (raw placeholder/control bytes in logtypes stay
    literal); only '%' is a wildcard, same semantics as _sql_like_match."""
    parts = pattern.split("%")
    quoted = [
        "\\Q" + p.replace("\\E", "\\E\\\\E\\Q") + "\\E" if p else ""
        for p in parts
    ]
    return "^" + "(?s:.*)".join(quoted) + "$"


def _sql_like_match(pattern: str):
    """Compile a %-pattern into a Python matcher (driver-side dict probe)."""
    import re as _re

    rx = _re.compile(
        "^" + "".join(
            "(?s:.*)" if c == "%" else _re.escape(c) for c in pattern
        ) + "$"
    )
    return lambda s: rx.match(s) is not None
