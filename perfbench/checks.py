"""Expected outputs, computed in one Python process without Spark.

Entities come from ``core.inference`` through the pure-Python oracle's
report runner. Triples are recomputed from (url, label, text) entities with
the pure-Python KG helpers of ``oracle/pyoracle.py`` (the Spark-hash replicas
for mention ids and LSH banding, exact trigram Jaccard, union-find
components, alias and smallest-surface canonicalization).
"""

from __future__ import annotations

from collections import defaultdict

from ner_backend_spark import flagship
from ner_backend_spark.core.spark_hash import (
    spark_hash,
    spark_hash_int_array,
    spark_xxhash64,
)
from ner_backend_spark.oracle import pyoracle

DIGEST_PRIME = 1_000_000_007


def report(docs: list[tuple[str, str]], config) -> tuple[list[tuple], list[tuple]]:
    """(entities, groups) for (url, text) docs: entity rows are
    (url, label, text, start, end, l_context, r_context), group rows
    (url, group_name); both sorted."""
    ents, groups = [], []
    for url, res in pyoracle._run_config(docs, config):
        for e in res.entities:
            ents.append(
                (url, e.label, e.text, e.start, e.end, e.l_context, e.r_context)
            )
        groups.extend((url, g) for g in res.groups)
    return sorted(ents), sorted(groups)


def triples(
    entities: list[tuple[str, str, str]],
    groups: list[tuple[str, str]] | None,
    alias: list[tuple[str, str]] | None,
) -> list[tuple[str, str, str]]:
    """Sorted (subj, pred, obj) rows ``kg.build_triples`` must produce from
    (url, label, text) ``entities`` with ``max_bucket_size=KG_MAX_BUCKET``
    and ``threshold=KG_THRESHOLD``."""
    ids: dict[tuple[str, str], int] = {}  # (label, text) -> mention id
    mentions: dict[int, tuple[str, str, str]] = {}
    for _, label, text in entities:
        if (label, text) not in ids:
            mid = ids[(label, text)] = spark_xxhash64(label, text)
            mentions[mid] = (label, text, pyoracle._norm_surface(text))
    tri = {m: pyoracle._trigrams_py(norm) for m, (_, _, norm) in mentions.items()}

    n_hashes, bands = pyoracle._KG_NUM_HASHES, pyoracle._KG_BANDS
    rows_per_band = n_hashes // bands
    # sig[i] = min over trigrams t of hash(t, i); a trigram's n_hashes
    # hashes are computed once, however many mentions contain it
    tri_hashes: dict[str, list[int]] = {}
    for tris in tri.values():
        for t in tris:
            if t not in tri_hashes:
                tri_hashes[t] = [spark_hash(t, ("int", i)) for i in range(n_hashes)]
    buckets: dict[tuple, list[int]] = defaultdict(list)
    for mid, tris in tri.items():
        sig = [min(col) for col in zip(*(tri_hashes[t] for t in tris))]
        for b in range(bands):
            bh = spark_hash_int_array(sig[b * rows_per_band : (b + 1) * rows_per_band])
            buckets[(b, bh, mentions[mid][0])].append(mid)

    uf = pyoracle._UnionFind()
    seen: set[tuple[int, int]] = set()
    for members in buckets.values():
        if len(members) > flagship.KG_MAX_BUCKET:
            continue
        members.sort()
        for i, a in enumerate(members):
            ta = set(tri[a])
            for b in members[i + 1 :]:
                if (a, b) in seen:
                    continue
                seen.add((a, b))
                tb = set(tri[b])
                if len(ta & tb) / len(ta | tb) >= flagship.KG_THRESHOLD:
                    uf.union(a, b)

    hits: dict[int, str] = {}
    if alias:
        alias_norm = {pyoracle._norm_surface(s): cid for s, cid in alias}
        for mid, (_, _, norm) in mentions.items():
            cid = alias_norm.get(norm)
            if cid is not None:
                hits[mid] = cid
                uf.union(mid, spark_xxhash64("alias:" + cid))

    comp = {mid: uf.find(mid) for mid in mentions}
    comp_alias: dict[int, str] = {}
    for mid, cid in hits.items():
        c = comp[mid]
        if c not in comp_alias or cid < comp_alias[c]:
            comp_alias[c] = cid
    comp_rep: dict[int, tuple[str, str]] = {}
    for mid, (_, text, norm) in mentions.items():
        c = comp[mid]
        if c not in comp_rep or (norm, text) < comp_rep[c]:
            comp_rep[c] = (norm, text)

    out = {
        (url, "HAS_" + label, comp_alias.get(c, comp_rep[c][1]))
        for url, label, text in entities
        for c in [comp[ids[(label, text)]]]
    }
    rows = sorted(out)
    if groups is not None:
        rows += sorted({(url, "IN_GROUP", g) for url, g in groups})
    return sorted(rows)


def digest(rows: list[tuple[str, str, str]]) -> tuple[int, int]:
    """(count, sum of pmod(xxhash64(subj, pred, obj), DIGEST_PRIME)) — the
    same value :func:`spark_digest` computes in Spark."""
    return len(rows), sum(spark_xxhash64(*r) % DIGEST_PRIME for r in rows)


def spark_digest(df) -> tuple[int, int]:
    """:func:`digest` of a (subj, pred, obj) DataFrame, as one aggregate job
    that consumes every row."""
    from pyspark.sql import functions as F

    row = df.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(
                F.pmod(
                    F.xxhash64("subj", "pred", "obj"), F.lit(DIGEST_PRIME)
                ).cast("decimal(38,0)")
            ),
            F.lit(0),
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])
