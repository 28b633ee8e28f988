"""The benchmark's workloads: what one pass runs and how its outputs
are checked.

``images_validate`` runs the production job path of
``scripts/validate_job.py`` (resumable ledger run, job summary, verdict
and violation writes) over the deterministic images fixture.
``band_dedup`` runs the band-pair dedup queries over generated sf0.1
testdata. The traced runs also run, once each and for their layers
only, the other band queries and bench.py's short queries. Each pass
calls the public pqc entry points one at a time from a single thread:
a closed loop with one client.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import shutil
import time
from dataclasses import dataclass, field

import gen

# ---------------------------------------------------------------------------
# inputs
# ---------------------------------------------------------------------------

IMAGE_ROWS = 2000  # measured fixture (validate_job.py --demo size)
BAND_SF = 0.1  # documents 5000, embeddings 2000 rows; star schema for the short queries

# (module, query): the timed band_dedup pass, in a fixed order (order
# alone moved a pass by ~8% in trials): the n-gram shingle band join,
# and SimHash band pairs followed by connected components.
BAND_QUERIES = (
    ("dedup", "ngram_jaccard_pairs"),
    ("dedup", "near_dup_clusters"),
)
# band_dedup's traced run also runs these once each, for their layers
# only: the other band queries (MinHash LSH at both dials, SimHash
# pairs alone, SRP LSH, and the IVF and bucketed block screens).
MORE_BAND_QUERIES = (
    ("dedup", "minhash_lsh_dedup"),
    ("dedup", "minhash_lsh_dedup_k128"),
    ("dedup", "simhash_near_dup_pairs"),
    ("similarity", "srp_lsh_near_dup"),
    ("similarity", "ivf_ann_topk"),
    ("similarity", "embedding_near_dup_bucketed"),
)
# The traced runs also run the short queries once each: bench.py's
# other headline queries, each dominated by planning and per-job
# scheduling rather than by data, over BAND_SF testdata. They are split
# between the two traced runs to keep each inside its time limit:
# band_dedup's runs the table, event and text queries ...
SHORT_QUERIES = (
    ("relational", "q1_pricing_summary"),
    ("relational", "market_segment_rollup"),
    ("relational", "topk_orders_per_customer"),
    ("relational", "top_brands_by_revenue"),
    ("events_ops", "sessionization"),
    ("events_ops", "hourly_event_rollup"),
    ("events_ops", "asof_join_last_click"),
    ("events_ops", "ks_drift_statistic"),
    ("relational", "column_stats_profile"),
    ("relational", "quantile_profile"),
    ("text", "token_count_stats"),
    ("text", "lang_id_confusion"),
    ("text", "quality_score"),
    ("dedup", "exact_dup_groups"),
    ("dedup", "simhash_fingerprint"),
    ("similarity", "knn_brute_force_cosine"),
    ("similarity", "embedding_near_dup_pairs"),
    ("matching", "competitor_topk_match"),
    ("events_ops", "event_value_pivot"),
    ("windowed", "streaming_windowed_rollup"),
    ("text", "tfidf_top_terms"),
    ("text", "quality_filter_chain"),
    ("text", "stratified_sample"),
)
# ... and images_validate's the image, media and product rule-pack ones.
SHORT_PRODUCT_QUERIES = (
    ("rule_packs", "npm_hfss_score"),
    ("audit_packs", "free_from_bulk_screen"),
    ("media", "media_decode_features"),
    ("image_queries", "images_relational_verdicts"),
    ("catalog_packs", "nutrition_claim_detect_bulk"),
    ("catalog_packs", "ingredient_presence_map_bulk"),
    ("rule_packs", "per_serving_sanity_bulk"),
)


def images_path(build: str, n: int) -> str:
    return os.path.join(build, "fixtures", f"images_n{n}")


def band_dir(build: str) -> str:
    return os.path.join(build, "data", f"sf{BAND_SF}")


def prepare(spark, build: str) -> None:
    """Generate every input once per checkout (outside all metrics)."""
    from pqc.fixtures import generate_images

    gen.write(BAND_SF, band_dir(build))
    path = images_path(build, IMAGE_ROWS)
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        tmp = f"{path}.tmp{os.getpid()}"
        generate_images(spark, IMAGE_ROWS).write.mode("overwrite").partitionBy("part").parquet(tmp)
        shutil.rmtree(path, ignore_errors=True)
        os.rename(tmp, path)


def fixture_keys() -> dict:
    return {
        "images": {"rows": IMAGE_ROWS, "parts": 16},
        "band": {"sf": BAND_SF, **gen.sizes(BAND_SF)},
    }


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------


def _norm(v):
    if isinstance(v, float):
        return None if math.isnan(v) else float(f"{v:.9g}")
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (bytes, bytearray)):
        return hashlib.sha1(v).hexdigest()
    if v is None or isinstance(v, (int, str, bool)):
        return v
    return str(v)


def table_digest(tbl) -> dict:
    """Row count and an order-independent hash of an Arrow table's
    values (columns by sorted name, floats to 9 significant digits)."""
    cols = sorted(tbl.column_names)
    data = [tbl.column(c).to_pylist() for c in cols]
    rows = sorted(
        hashlib.sha1(repr(tuple(_norm(col[i]) for col in data)).encode()).hexdigest()
        for i in range(tbl.num_rows)
    )
    return {
        "rows": tbl.num_rows,
        "hash": hashlib.sha256("".join(rows).encode()).hexdigest()[:32],
    }


@dataclass
class Outcome:
    """One checked operation of a pass."""

    op: str
    ok: bool
    detail: str = ""


@dataclass
class PassResult:
    wall_s: float
    outputs: dict = field(default_factory=dict)
    errors: list = field(default_factory=list)  # Outcome for ops that raised
    skipped: list = field(default_factory=list)  # ops not started by a deadline


def run_queries(spark, sf_dir, queries, tracer, deadline=math.inf) -> PassResult:
    """Each registered query built, then every output column
    materialized, one span per query; no query starts after
    ``deadline`` (monotonic), so that a slow host cannot push a traced
    run past its time limit."""
    from pqc.registry import all_queries

    fns = all_queries()
    res = PassResult(0.0)
    t0 = time.monotonic()
    for module, q in queries:
        if time.monotonic() > deadline:
            res.skipped.append(q)
            continue
        with tracer.span(f"{module}.{q}"):
            try:
                with tracer.span("build"):
                    df = fns[q](spark, sf_dir)
                with tracer.span("action"):
                    res.outputs[q] = df.toArrow()
            except Exception as exc:
                res.errors.append(Outcome(q, False, f"{type(exc).__name__}: {exc}"))
    res.wall_s = time.monotonic() - t0
    return res


def query_digests(res: PassResult) -> dict:
    return {q: table_digest(t) for q, t in sorted(res.outputs.items())}


def check_queries(res: PassResult, ref: dict) -> list[Outcome]:
    out = list(res.errors)
    for q, d in query_digests(res).items():
        out.append(Outcome(q, d == ref[q], f"{d} vs reference {ref[q]}"))
    return out


# ---------------------------------------------------------------------------
# images_validate
# ---------------------------------------------------------------------------


class ImagesValidate:
    name = "images_validate"
    rows = IMAGE_ROWS

    def __init__(self, build: str, seed: int):
        self.build = build
        self.seed = seed

    def load(self, spark) -> dict:
        from pqc import fixtures

        path = images_path(self.build, IMAGE_ROWS)
        # The image short queries read pqc.fixtures.cached_images_path,
        # which the prepare step's fixture is, written the same way.
        # Pointed at it (a private cache of pqc's), they do not
        # regenerate it under /tmp in every run.
        fixtures._FIXTURE_CACHE[(IMAGE_ROWS, 0)] = path
        images = spark.read.parquet(path)
        return {"images": images, "dim": fixtures.generate_image_dim(images)}

    def run_pass(self, spark, inputs, tracer, tag: str) -> PassResult:
        return self._pass(spark, inputs["images"], inputs["dim"], tracer, tag)

    def _pass(self, spark, images, dim, tracer, tag: str) -> PassResult:
        """validate_job.py's body: resumable run into an empty ledger,
        the job summary, then verdict and violation writes."""
        from pqc.engine import ValidationSuite
        from pqc.ledger import run_with_resume

        work = os.path.join(self.build, "work", f"{tag}-{os.getpid()}")
        shutil.rmtree(work, ignore_errors=True)
        ledger, out = os.path.join(work, "ledger"), os.path.join(work, "out")
        res = PassResult(0.0, {"work": work, "ledger": ledger, "out": out})
        t0 = time.monotonic()
        try:
            with tracer.span("ledger.run_with_resume"):
                result, skipped = run_with_resume(
                    spark, images, ledger, ValidationSuite(), image_dim=dim
                )
            res.outputs["skipped"] = skipped
            if result is None:
                raise RuntimeError(f"no partition validated (skipped {skipped})")
            with tracer.span("job.summary"):
                res.outputs["failed_verdicts"] = result.verdicts.filter("NOT passed").count()
                res.outputs["validated_parts"] = (
                    result.verdicts.select("part").distinct().count()
                )
                res.outputs["n_violations"] = result.violations.count()
            with tracer.span("output.write"):
                result.verdicts.write.mode("overwrite").parquet(f"{out}/verdicts")
                result.violations.write.mode("overwrite").partitionBy("part").parquet(
                    f"{out}/violations"
                )
            result.release()
        except Exception as exc:  # a failed job is a failed op, not a crash
            res.errors.append(Outcome("images_validate", False, f"{type(exc).__name__}: {exc}"))
        res.wall_s = time.monotonic() - t0
        return res

    def digest(self, spark, res: PassResult) -> dict:
        """What the checks compare, read back from the pass's outputs."""
        from pyspark.sql import functions as F

        viol = spark.read.parquet(f"{res.outputs['out']}/violations")
        verd = spark.read.parquet(f"{res.outputs['out']}/verdicts")
        led = spark.read.parquet(res.outputs["ledger"])
        per = {r["constraint"]: r["n"] for r in viol.groupBy("constraint").agg(F.count("*").alias("n")).collect()}
        verd_sum = {
            r["constraint"]: r["n"]
            for r in verd.groupBy("constraint").agg(F.sum("n_violations").alias("n")).collect()
        }
        return {
            "violations_by_constraint": dict(sorted(per.items())),
            "verdict_sums": dict(sorted(verd_sum.items())),
            "n_violations": res.outputs["n_violations"],
            "verdict_rows": verd.count(),
            "failed_verdicts": res.outputs["failed_verdicts"],
            "validated_parts": res.outputs["validated_parts"],
            "ledger_rows": led.count(),
            "ledger_parts": led.select("part").distinct().count(),
            "skipped": list(res.outputs["skipped"]),
        }

    def check(self, spark, res: PassResult, ref: dict) -> list[Outcome]:
        if res.errors:
            return list(res.errors)
        got = self.digest(spark, res)
        out = []
        want = ref["violations_by_constraint"]
        out.append(Outcome(
            "violations", got["violations_by_constraint"] == want
            and got["n_violations"] == sum(want.values()),
            f"{got['n_violations']} violations, reference {sum(want.values())}",
        ))
        out.append(Outcome(
            "verdicts", {k: v for k, v in got["verdict_sums"].items() if v} == want
            and got["verdict_rows"] == ref["verdict_rows"]
            and got["failed_verdicts"] == ref["failed_verdicts"]
            and got["validated_parts"] == 16,
            f"{got['verdict_rows']} verdict rows, {got['failed_verdicts']} failed",
        ))
        out.append(Outcome(
            "ledger", got["ledger_rows"] == 16 and got["ledger_parts"] == 16
            and got["skipped"] == [],
            f"{got['ledger_rows']} ledger rows, skipped {got['skipped']}",
        ))
        return out

    def cleanup(self, res: PassResult) -> None:
        shutil.rmtree(res.outputs["work"], ignore_errors=True)

    def reference(self, spark, inputs) -> dict:
        """What ``check`` compares against, for ``refs.json``."""
        import spans as tr

        off = tr.Tracer(enabled=False)
        res = self.run_pass(spark, inputs, off, tag="ref")
        short = run_queries(spark, band_dir(self.build), SHORT_PRODUCT_QUERIES, off)
        if res.errors or short.errors:
            raise RuntimeError(f"{self.name}: {res.errors + short.errors}")
        try:
            return {**self.digest(spark, res), "short_queries": query_digests(short)}
        finally:
            self.cleanup(res)

    def probe(self, spark, inputs, tracer, ref, deadline) -> tuple[dict, list[Outcome]]:
        """Layer probes of the traced run, each under its own span:
        the decode island and an identity mapInPandas over the same
        columns to a noop sink, every constraint branch materialized
        alone over a cached meta projection and decode island, the
        suite's concurrent branch phase and verdict rollup, the
        near-dup guard, and single-thread codec kernels. Then the
        image, media and product rule-pack short queries, once each
        under the span ``short``, outputs checked like a pass's."""
        from pqc.constraints import SuiteContext, near_dup
        from pqc.engine import ValidationSuite
        from pqc.image.decode import decode_integrity

        images, dim = inputs["images"], inputs["dim"]
        base = ["seq", "image_id", "part", "w", "h", "fmt", "caption", "phash"]

        def identity(batches):
            for pdf in batches:
                yield pdf[base]

        def noop(df):
            df.write.format("noop").mode("overwrite").save()

        out: dict = {}
        with tracer.span("image.decode.island"):
            noop(decode_integrity(images))
        with tracer.span("image.decode.transfer"):
            noop(images.mapInPandas(identity, schema=images.select(*base).schema))

        ctx = SuiteContext(images=images, image_dim=dim)
        with tracer.span("constraints.cache"):
            ctx.meta().count()
            ctx.integrity().count()
        suite = ValidationSuite()
        for fn in suite._builders:  # the suite's own branch list, one at a time
            module = fn.__module__.rsplit(".", 1)[-1]
            with tracer.span(f"constraints.{module}"):
                noop(fn(ctx))
        with tracer.span("engine.branches"):  # meta is cached: run() is the branch phase
            res = suite.run(ctx)
        with tracer.span("engine.rollup"):
            noop(res.verdicts)
        with tracer.span("near_dup.hot_buckets"):
            out["near_dup.hot_buckets"] = near_dup.hot_buckets(ctx.meta()).count()
        res.release()
        out.update(kernel_probes(self.seed))
        # last, so that the deadline can only cut these
        with tracer.span("short"):
            short = run_queries(
                spark, band_dir(self.build), SHORT_PRODUCT_QUERIES, tracer, deadline
            )
        out["skipped"] = short.skipped
        return out, check_queries(short, ref["short_queries"])


def kernel_probes(seed: int, per_fmt: int = 8, reps: int = 3) -> dict:
    """Median single-thread ms per call of the decode island's kernels
    on fixture rows sampled by ``seed`` (no Spark involved)."""
    import numpy as np

    from pqc.fixtures import row_for
    from pqc.image.codec import decode, lsy_requantize, psnr
    from pqc.image.jpeg import jpeg_requantize
    from pqc.image.phash import phash64

    rng = random.Random(seed)
    fmt_of = lambda i: "lsy" if i % 100 < 80 else ("png" if i % 100 < 95 else "jpeg")  # noqa: E731
    # healthy rows only: no truncated payload, no declared-format fault
    healthy = [i for i in range(IMAGE_ROWS) if i % 500 != 11 and i % 333 != 19]
    sample = {f: rng.sample([i for i in healthy if fmt_of(i) == f], per_fmt)
              for f in ("lsy", "png", "jpeg")}

    def ms(fn, args_list) -> float:
        times = []
        for _ in range(reps):
            for args in args_list:
                t = time.perf_counter()
                fn(*args)
                times.append((time.perf_counter() - t) * 1000.0)
        return float(np.median(times))

    rows = {f: [row_for(i) for i in ids] for f, ids in sample.items()}
    arrs = {f: [decode(r["bytes"], f) for r in rs] for f, rs in rows.items()}
    out = {f"image.codec.decode_ms.{f}": ms(decode, [(r["bytes"], f) for r in rs])
           for f, rs in rows.items()}
    out["image.codec.regen_ms.lsy"] = ms(
        lambda a, q: psnr(a, lsy_requantize(a, q)),
        [(a, r["bytes"][12]) for a, r in zip(arrs["lsy"], rows["lsy"])],
    )
    out["image.jpeg.regen_ms"] = ms(
        lambda a: psnr(a, jpeg_requantize(a, 95)), [(a,) for a in arrs["jpeg"]]
    )
    out["image.phash.ms"] = ms(phash64, [(a,) for f in arrs for a in arrs[f]])
    return out


# ---------------------------------------------------------------------------
# band_dedup
# ---------------------------------------------------------------------------


class BandDedup:
    name = "band_dedup"

    def __init__(self, build: str, seed: int):
        self.build = build
        n = gen.sizes(BAND_SF)
        self.rows = n["documents"] + n["embeddings"]

    def load(self, spark) -> dict:
        from pqc.registry import all_queries

        all_queries()  # imports every query module
        sf_dir = band_dir(self.build)
        for name in ("documents", "embeddings"):
            spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).schema
        return {"sf_dir": sf_dir}

    def run_pass(self, spark, inputs, tracer, tag: str) -> PassResult:
        return run_queries(spark, inputs["sf_dir"], BAND_QUERIES, tracer)

    def digest(self, spark, res: PassResult) -> dict:
        return query_digests(res)

    def check(self, spark, res: PassResult, ref: dict) -> list[Outcome]:
        return check_queries(res, ref)

    def cleanup(self, res: PassResult) -> None:
        res.outputs.clear()

    def probe(self, spark, inputs, tracer, ref, deadline) -> tuple[dict, list[Outcome]]:
        """The other band queries, then the table, event and text short
        queries, once each under the spans ``band`` and ``short``,
        outputs checked like a pass's."""
        runs = []
        for group, queries in (("band", MORE_BAND_QUERIES), ("short", SHORT_QUERIES)):
            with tracer.span(group):
                runs.append(run_queries(spark, inputs["sf_dir"], queries, tracer, deadline))
        skipped = [q for r in runs for q in r.skipped]
        return {"skipped": skipped}, [o for r in runs for o in check_queries(r, ref)]

    def reference(self, spark, inputs) -> dict:
        """Digests of every query's output, for ``refs.json``."""
        import spans as tr

        queries = BAND_QUERIES + MORE_BAND_QUERIES + SHORT_QUERIES
        res = run_queries(spark, inputs["sf_dir"], queries, tr.Tracer(enabled=False))
        if res.errors:
            raise RuntimeError(f"{self.name}: {res.errors}")
        return query_digests(res)


WORKLOADS = {w.name: w for w in (ImagesValidate, BandDedup)}
