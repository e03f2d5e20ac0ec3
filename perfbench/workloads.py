"""The three workloads: set-up, timed ops and per-op output checks.

Every op goes through :meth:`Recorder.run`, which times it, counts an
exception or a wrong output as a failure with its cause, and never
retries or skips an op. Each workload runs in whole units (a request
block, a corpus pass, an ingest cycle) until the measuring time is used
up, so every run times the same mix of op types.
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import re
import statistics
import sys
import time
import traceback

from . import gen, reference
from .tracing import cpu_ticks


class Recorder:
    """Latencies, rows and failures of the timed ops of one phase."""

    def __init__(self, tracer):
        self.tracer = tracer
        self.samples: dict[str, list[float]] = {"op": [], "read": [], "compact": []}
        self.attempted = 0
        self.failures: list[dict] = []
        self.rows = 0
        self.timed_s = 0.0
        self.notes: dict[str, list[float]] = {}
        self.by_kind: dict[str, list[float]] = {}

    def run(self, kind: str, klass: str, rows: int, fn, check):
        """Time ``fn``; check its result; return it, or None on failure."""
        from data__converter_spark.scale import release_persisted

        op_id = self.attempted
        self.attempted += 1
        steal0 = cpu_ticks()
        t0 = time.perf_counter()
        try:
            with self.tracer.op(op_id, kind):
                result = fn()
                dt = time.perf_counter() - t0
        except Exception as e:  # counted as a failed op, never swallowed
            self.timed_s += time.perf_counter() - t0
            traceback.print_exc(file=sys.stderr)
            self.failures.append({"op": op_id, "kind": kind, "cause": _last_line(e)})
            return None
        finally:
            release_persisted()
        self.timed_s += dt
        self.samples[klass].append(dt)
        steal1 = cpu_ticks()
        self.note("steal_frac", (steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]))
        self.by_kind.setdefault(kind, []).append(dt)
        try:
            problems = check(result)
        except Exception as e:  # malformed output, e.g. a missing file
            problems = [f"check raised {_last_line(e)}"]
        if problems:
            self.failures.append(
                {"op": op_id, "kind": kind, "cause": "wrong output: " + "; ".join(problems[:3])}
            )
            return None
        self.rows += rows
        return result

    def note(self, name: str, value: float) -> None:
        self.notes.setdefault(name, []).append(value)


def _last_line(e: Exception) -> str:
    return traceback.format_exception_only(type(e), e)[-1].strip()[:300]


def _only(tables: dict):
    (df,) = tables.values()
    return df


def _diff_rows(got: list, want: list, what: str) -> list[str]:
    if sorted(map(tuple, got)) != sorted(map(tuple, want)):
        return [f"{what}: {len(got)} rows differ from the {len(want)} source rows"]
    return []


# ---------------------------------------------------------------------------
# tool_requests
# ---------------------------------------------------------------------------

MASK_LEN = 12
PATTERN_COUNT = r"[aeiou]{2}"
PATTERN_LITERAL = "Ka"
PATTERN_DIGITS = r"[0-9]+"
PRESETS = ["tabs_to_spaces", "collapse_spaces", "comma_spacing"]
KEY = gen.ORDER_COLUMNS[0]


class ToolRequests:
    """Seeded reference-tool requests: convert, compare, mask, pattern."""

    name = "tool_requests"

    def generate(self, seed: int, in_dir: str) -> None:
        self.seed, self.in_dir = seed, in_dir
        self.m = gen.tool_inputs(seed, in_dir)

    def prepare(self, spark, tracer, work_dir: str) -> None:
        self.spark, self.work_dir = spark, work_dir
        self.outputs = 0
        # warm-up: one whole block, in an order no timed block uses
        rec = Recorder(tracer)
        self.run_unit(rec, -1)
        if rec.failures:
            raise RuntimeError(f"warm-up failed: {rec.failures}")

    def run_unit(self, rec: Recorder, unit: int) -> None:
        for kind, name in gen.block_order(self.m, unit):
            self._request(rec, kind, name)

    def _path(self, name: str) -> str:
        return os.path.join(self.in_dir, name)

    def _out(self) -> str:
        self.outputs += 1
        return os.path.join(self.work_dir, f"req{self.outputs:05d}")

    def _request(self, rec: Recorder, kind: str, name: str) -> None:
        getattr(self, f"_{kind}")(rec, name)

    # convert ---------------------------------------------------------------

    def _convert(self, tr, inputs: list[str], fmt: str, out: str) -> dict:
        from data__converter_spark.io import convert

        with tr.span("io.convert"):
            return convert.convert(self.spark, inputs, fmt, out)

    def _convert_csv_xml(self, rec: Recorder, name: str) -> None:
        src = self.m["tables"][name]
        out = self._out()

        def check(res):
            rows = reference.xml_rows(res[name])
            return _diff_rows([[r.get(c, "") for c in gen.COLUMNS] for r in rows], src, "xml")

        rec.run("convert_csv_xml", "op", len(src),
                lambda: self._convert(rec.tracer, [self._path(f"{name}.csv")], "xml", out), check)

    def _convert_xml_csv(self, rec: Recorder, name: str) -> None:
        src = self.m["tables"][name]
        out = self._out()

        def check(res):
            (path,) = res.values()
            header, rows = reference.csv_rows(path)
            if sorted(header) != sorted(gen.COLUMNS):
                return [f"csv header {header}"]
            idx = [header.index(c) for c in gen.COLUMNS]
            return _diff_rows([[r[i] for i in idx] for r in rows], src, "csv")

        rec.run("convert_xml_csv", "op", len(src),
                lambda: self._convert(rec.tracer, [self._path(f"{name}.xml")], "csv", out), check)

    def _convert_csv_xlsx(self, rec: Recorder, name: str) -> None:
        sheets = self.m["xlsx"][name]
        out = self._out()
        paths = [self._path(f"{s}.csv") for s in sheets]

        def check(res):
            book = reference.xlsx_sheets(next(iter(res.values())))
            problems = []
            for s, src in sheets.items():
                got = book.get(s)
                if got is None or got[0] != gen.COLUMNS:
                    problems.append(f"sheet {s} missing or header wrong")
                else:
                    problems += _diff_rows(got[1:], src, f"sheet {s}")
            return problems

        rec.run("convert_csv_xlsx", "op", sum(map(len, sheets.values())),
                lambda: self._convert(rec.tracer, paths, "xlsx", out), check)

    # compare ---------------------------------------------------------------

    def _compare(self, rec: Recorder, name: str) -> None:
        from data__converter_spark import compare
        from data__converter_spark.io import convert

        truth = self.m["compare"][name]
        tr = rec.tracer

        def op():
            with tr.span("io.parse_file"):
                a = tr.settle(_only(convert.parse_file(self.spark, self._path(f"{name}_a.csv"))))
                b = tr.settle(_only(convert.parse_file(self.spark, self._path(f"{name}_b.csv"))))
            with tr.span("compare.diff"):
                d = tr.settle(compare.diff(a, b, KEY))
            with tr.span("compare.diff_summary"):
                summary = {r["status"]: r["cnt"] for r in compare.diff_summary(d).collect()}
            with tr.span("compare.field_mismatches"):
                n_fields = compare.field_mismatches(d, KEY).count()
            return summary, n_fields

        def check(res):
            summary, n_fields = res
            want = {k: v for k, v in truth["counts"].items() if v}
            c = truth["counts"]
            # one mismatch per changed row (one field changed); every
            # non-key field of an added or deleted row
            want_fields = c["changed"] + (c["added"] + c["deleted"]) * (len(gen.ORDER_COLUMNS) - 1)
            problems = []
            if summary != want:
                problems.append(f"status counts {summary} != {want}")
            if n_fields != want_fields:
                problems.append(f"field mismatches {n_fields} != {want_fields}")
            return problems

        rec.run(f"compare_{name}", "op", truth["rows"], op, check)

    # mask ------------------------------------------------------------------

    def _mask(self, rec: Recorder, name: str) -> None:
        from pyspark.sql import functions as F

        from data__converter_spark import mask
        from data__converter_spark.io import convert

        src = self.m["tables"][name]
        tr = rec.tracer
        rules = {
            "name": mask.FieldRule(kind="hashSHA256"),
            "qty": mask.FieldRule(kind="randomInt", int_min=1, int_max=99),
            "note": mask.FieldRule(kind="randomString", str_len=MASK_LEN),
        }

        def op():
            with tr.span("io.parse_file"):
                df = tr.settle(_only(convert.parse_file(self.spark, self._path(f"{name}.csv"))))
            with tr.span("mask.mask_table"):
                masked, key = mask.mask_table(df, rules, seed=self.seed, id_cols=["id"])
                # the recovery join: key table restores the originals
                m, k = masked.alias("m"), key.alias("k")
                return (
                    m.join(k, "ANON_ROW_ID")
                    .select(
                        *[F.col(f"m.{c}") for c in gen.COLUMNS],
                        *[F.col(f"k.{c}").alias(f"orig_{c}") for c in rules],
                    )
                    .collect()
                )

        def check(rows):
            by_id = {r[0]: r for r in src}
            problems = []
            if len(rows) != len(src):
                problems.append(f"{len(rows)} recovered rows != {len(src)}")
            for r in rows:
                s = by_id.get(r["id"])
                if s is None:
                    problems.append(f"unknown id {r['id']}")
                elif [r["orig_name"], r["orig_qty"], r["orig_note"]] != [s[1], s[3], s[5]]:
                    problems.append(f"id {r['id']}: recovery join differs")
                elif r["name"] != hashlib.sha256(s[1].encode()).hexdigest():
                    problems.append(f"id {r['id']}: sha256 differs from hashlib")
                elif not (1 <= int(r["qty"]) <= 99 and len(r["note"]) == MASK_LEN):
                    problems.append(f"id {r['id']}: masked qty/note out of rule")
                elif [r["city"], r["price"]] != [s[2], s[4]]:
                    problems.append(f"id {r['id']}: unmasked column changed")
                if problems:
                    break
            return problems

        rec.run("mask", "op", len(src), op, check)

    # pattern ---------------------------------------------------------------

    def _pattern(self, rec: Recorder, name: str) -> None:
        from data__converter_spark import pattern
        from data__converter_spark.io import convert

        lines = self.m["text"][name]
        tr = rec.tracer

        def op():
            with tr.span("io.parse_file"):
                df = tr.settle(_only(convert.parse_file(self.spark, self._path(f"{name}.txt"))))
            with tr.span("pattern.count_matches"):
                n_vowels = pattern.count_matches(df, "value", PATTERN_COUNT).collect()[0][0]
                n_lit = pattern.count_matches(
                    df, "value", PATTERN_LITERAL, literal=True, case_insensitive=True
                ).collect()[0][0]
            with tr.span("pattern.replace_all_col"):
                digits = pattern.replace_all_col("value", PATTERN_DIGITS, "#")
            with tr.span("pattern.apply_presets"):
                out = pattern.apply_presets(df.select(digits.alias("value")), "value", PRESETS)
                replaced = [r[0] for r in out.collect()]
            return n_vowels, n_lit, replaced

        def check(res):
            n_vowels, n_lit, replaced = res
            lit = re.compile("(?i)" + re.escape(PATTERN_LITERAL))
            want_v = sum(len(re.findall(PATTERN_COUNT, s)) for s in lines)
            want_l = sum(len(lit.findall(s)) for s in lines)
            want_r = []
            for s in lines:
                s = re.sub(PATTERN_DIGITS, "#", s)
                s = re.sub(r"\t", "    ", s)
                s = re.sub(r"[ ]{2,}", " ", s)
                want_r.append(re.sub(r"[ \t]*,[ \t]*", ", ", s))
            problems = []
            if (n_vowels, n_lit) != (want_v, want_l):
                problems.append(f"counts {(n_vowels, n_lit)} != re {(want_v, want_l)}")
            if sorted(replaced) != sorted(want_r):
                problems.append("replacements differ from re.sub")
            return problems

        rec.run("pattern", "op", len(lines), op, check)


# ---------------------------------------------------------------------------
# corpus_dedup
# ---------------------------------------------------------------------------

DEDUP_THRESHOLD = 0.5


class CorpusDedup:
    """One op is one normalize -> quality -> minhash LSH -> connected
    components keep -> text index -> BM25 pass over a seeded corpus."""

    name = "corpus_dedup"

    def generate(self, seed: int, in_dir: str) -> None:
        self.in_dir = in_dir
        self.m = gen.corpus_inputs(seed, in_dir)

    def prepare(self, spark, tracer, work_dir: str) -> None:
        self.spark = spark
        # warm-up: one whole pass
        rec = Recorder(tracer)
        self.run_unit(rec, -1)
        if rec.failures:
            raise RuntimeError(f"warm-up failed: {rec.failures}")

    def run_unit(self, rec: Recorder, unit: int) -> None:
        from pyspark.sql import functions as F

        from data__converter_spark.llmops import dedup, similarity, textstats

        spark, tr, truth = self.spark, rec.tracer, self.m
        n_docs = truth["docs"]

        def op():
            docs = spark.read.parquet(os.path.join(self.in_dir, "corpus.parquet"))
            with tr.span("textstats.normalize_text_col"):
                norm = docs.select("doc_id", textstats.normalize_text_col("text", lower=True).alias("text"))
            with tr.span("textstats.quality_features"):
                q = textstats.quality_features(norm).agg(
                    F.count("*").alias("n"), F.min("n_tokens").alias("min_tokens")
                ).collect()[0]
            with tr.span("dedup.minhash_lsh_pairs"):
                pairs = tr.settle(dedup.minhash_lsh_pairs(norm, threshold=DEDUP_THRESHOLD))
            with tr.span("dedup.connected_components"):
                cc = dedup.connected_components(pairs)
                comp = {r["id"]: r["component"] for r in cc.collect()}
            drop = cc.filter(F.col("id") != F.col("component")).select(F.col("id").alias("doc_id"))
            keep = norm.join(drop, "doc_id", "left_anti")
            with tr.span("similarity.build_text_index"):
                postings, stats = similarity.build_text_index(keep)
                tr.settle(postings)
            queries = spark.read.parquet(os.path.join(self.in_dir, "queries.parquet"))
            with tr.span("similarity.bm25_from_index"):
                top = similarity.bm25_from_index(queries, postings, stats, top_k=1).collect()
            return q, comp, {r["query_id"]: r["match_id"] for r in top}

        def check(res):
            q, comp, top = res
            problems = []
            if q["n"] != n_docs or q["min_tokens"] < gen.DOC_WORDS[0]:
                problems.append(f"quality features over {q['n']} docs, min tokens {q['min_tokens']}")
            for group in truth["exact"]:
                kept = [d for d in group if comp.get(d, d) == d]
                if len(kept) != 1:
                    problems.append(f"exact group {group} keeps {kept}")
                    break
            for qid, doc in enumerate(truth["queries"]):
                if top.get(qid) != doc:
                    problems.append(f"query {qid} ranks {top.get(qid)} first, not {doc}")
                    break
            found = sum(1 for a, b in truth["near"] if a in comp and comp[a] == comp.get(b))
            rec.note("near_pair_recall", found / len(truth["near"]))
            return problems

        rec.run("pass", "op", n_docs, op, check)


# ---------------------------------------------------------------------------
# ingest_batches
# ---------------------------------------------------------------------------

def _tree(path: str) -> dict[str, tuple[int, int]]:
    """relative path -> (size, mtime_ns) of every file under ``path``."""
    out = {}
    for base, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(base, f))
            out[os.path.relpath(os.path.join(base, f), path)] = (st.st_size, st.st_mtime_ns)
    return out


def _delta_rows(state: str) -> int:
    import pyarrow.parquet as pq

    d = os.path.join(state, "assign_delta")
    return sum(
        pq.read_metadata(os.path.join(d, f)).num_rows
        for f in os.listdir(d)
        if f.endswith(".parquet")
    )


def _assignment_problems(ids: list, committed: set) -> list[str]:
    """Every committed doc exactly once, and nothing else."""
    if len(ids) != len(set(ids)):
        return [f"{len(ids) - len(set(ids))} docs with more than one assignment"]
    if set(ids) != committed:
        return [f"{len(set(ids) ^ committed)} committed docs missing or extra"]
    return []


class IngestBatches:
    """State build in set-up, then cycles of one batch commit, one read
    of the standing assignments and one compaction (its folded state is
    checked with pyarrow against that read)."""

    name = "ingest_batches"

    def generate(self, seed: int, in_dir: str) -> None:
        self.stream = gen.IngestStream(seed, in_dir)

    def prepare(self, spark, tracer, work_dir: str) -> None:
        from data__converter_spark.llmops import pipeline

        self.spark = spark
        self.state = os.path.join(work_dir, "ingest_state")
        self.committed = set(self.stream.standing)
        self.assigned: dict | None = None  # doc -> cluster of the last correct read
        self.written = 0
        self.text_bytes = 0
        with tracer.span("pipeline.ingest_state_build"):
            pipeline.ingest_state_build(spark.read.parquet(self.stream.standing_path), self.state)
        # warm-up: the first batch and a read run in set-up
        rec = Recorder(tracer)
        self._batch(rec)
        self._read(rec)
        if rec.failures:
            raise RuntimeError(f"warm-up failed: {rec.failures}")

    def run_unit(self, rec: Recorder, unit: int) -> None:
        self._batch(rec)
        self._read(rec)
        self._compact(rec)

    def _batch(self, rec: Recorder) -> None:
        from pyspark.sql import functions as F

        from data__converter_spark.llmops import pipeline

        b = self.stream.next_batch()
        tr = rec.tracer

        def op():
            batch = self.spark.read.parquet(b["path"])
            with tr.span("pipeline.ingest_pipeline_incremental"):
                receipt = pipeline.ingest_pipeline_incremental(batch, self.state)
                return receipt.filter(F.col("kind") == "batch").select("doc_id").collect()

        def check(rows):
            got = sorted(r[0] for r in rows)
            if got != b["survivors"]:
                leaked = set(got) & {d for _, d in b["exact"]}
                return [f"{len(got)} survivors != {len(b['survivors'])}; exact duplicates kept: {len(leaked)}"]
            return []

        with self._writes(tr):
            rec.run("batch", "op", len(b["survivors"]) + len(b["exact"]), op, check)
        if tr.enabled:
            self.text_bytes += b["text_bytes"]
        # the batch counts as committed once the call returned: a later
        # read then shows whether the commit really happened
        self.committed.update(b["survivors"])

    @contextlib.contextmanager
    def _writes(self, tr):
        """Add the bytes of files created or changed under the state
        directory to ``written`` (traced run only)."""
        before = _tree(self.state) if tr.enabled else None
        yield
        if before is not None:
            after = _tree(self.state)
            self.written += sum(s for p, (s, t) in after.items() if before.get(p) != (s, t))

    def _read(self, rec: Recorder) -> None:
        from data__converter_spark.llmops import pipeline

        tr = rec.tracer
        if tr.enabled:
            rec.note("pipeline.read_delta_rows", _delta_rows(self.state))

        def op():
            with tr.span("pipeline.ingest_state_assignments"):
                return pipeline.ingest_state_assignments(self.spark, self.state).select(
                    "doc_id", "cluster_id"
                ).collect()

        def check(rows):
            self.assigned = None
            problems = _assignment_problems([r[0] for r in rows], self.committed)
            if problems:
                return problems
            self.assigned = dict((r[0], r[1]) for r in rows)
            near = [p for bt in self.stream.batches for p in bt["near"]]
            rec.note("near_pair_recall", statistics.fmean(
                self.assigned[a] == self.assigned[b] for a, b in near))
            return []

        rec.run("read", "read", 0, op, check)

    def _compact(self, rec: Recorder) -> None:
        from data__converter_spark.llmops import pipeline

        tr = rec.tracer

        def op():
            with tr.span("pipeline.ingest_state_compact"):
                pipeline.ingest_state_compact(self.spark, self.state)

        def check(_):
            # read the folded state back with pyarrow, not the engine
            import pyarrow.parquet as pq

            base = pq.read_table(os.path.join(self.state, "assign"),
                                 columns=["doc_id", "cluster_id"]).to_pydict()
            problems = _assignment_problems(base["doc_id"], self.committed)
            left = _delta_rows(self.state)
            if left:
                problems.append(f"{left} rows left in assign_delta")
            folded = dict(zip(base["doc_id"], base["cluster_id"]))
            if not problems and self.assigned is not None and folded != self.assigned:
                moved = sum(folded[d] != c for d, c in self.assigned.items())
                problems.append(f"{moved} docs changed cluster in the compaction")
            return problems

        with self._writes(tr):
            rec.run("compact", "compact", 0, op, check)

    def pipeline_metrics(self, rec: Recorder) -> dict[str, float]:
        tree = _tree(self.state)
        reads = rec.notes.get("pipeline.read_delta_rows", [0])
        return {
            "pipeline.state_mb": sum(s for s, _ in tree.values()) / (1024 * 1024),
            "pipeline.state_files": len(tree),
            "pipeline.write_amp": self.written / self.text_bytes if self.text_bytes else 0.0,
            "pipeline.read_delta_rows": statistics.fmean(reads),
        }


WORKLOADS = {w.name: w for w in (ToolRequests, CorpusDedup, IngestBatches)}
