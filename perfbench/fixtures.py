"""Seeded benchmark inputs, written with the program's own serializers.

Every fixture starts from a list of documents ``(doc_id, text, lang,
source)`` drawn from ``random.Random(seed)``: the same seed gives the same
bytes. ``zh`` documents are CJK text and the other non-English ones carry
diacritics, so the MARC-8 writer and reader run their escape and combining
paths; ``marc_from_documents`` adds the 880 alternate-script field to
every fourth record.

Fixtures are split into a fixed multiple of the core count of equally
sized files, so every task gets the same share and no task finishes last
by itself.

``Fixture.verify`` re-hashes the files against the checksum recorded at
generation; the harness refuses to time a fixture that no longer matches.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import subprocess
import sys
from dataclasses import dataclass, field

FILES_PER_CPU = 4

EN = (
    "batch part spark line column order small sort fast value scan hash "
    "slow group agg filter query big key window row table stream merge "
    "data join vector customer library catalog record index field"
).split()
WORDS = {
    "en": EN,
    "de": (
        "straße über größe bücher schön grün müde käse mädchen zeit buch "
        "und der die das welt fluß höhe"
    ).split(),
    "fr": (
        "été élève garçon français château forêt où déjà très noël crème "
        "livre monde le la des être"
    ).split(),
    "es": (
        "niño año señor mañana corazón canción árbol jamón el la libro "
        "mundo también así según"
    ).split(),
}
CJK = "中文书图馆目录记录索引数据查询表格流合并连接向量客户世界时间学习研究历史文化科学"
LANG_WEIGHTS = (("en", 41), ("zh", 15), ("es", 15), ("fr", 15), ("de", 14))
SOURCES = ("src0", "src1", "src2", "src3", "src4")


def _token(rng: random.Random, lang: str) -> str:
    if lang == "zh":
        return rng.choice(CJK) + rng.choice(CJK)
    # a third of the tokens of every language come from the shared
    # English vocabulary, as in mixed-language catalogue text
    if lang != "en" and rng.random() < 0.33:
        return rng.choice(EN)
    return rng.choice(WORDS[lang])


def _text(rng: random.Random, lang: str, lo: int, hi: int) -> str:
    return " ".join(_token(rng, lang) for _ in range(rng.randint(lo, hi)))


def documents(seed: int, n: int, lo: int = 8, hi: int = 70) -> list:
    """``n`` documents with ids ``0..n-1``."""
    rng = random.Random(seed)
    langs = [lang for lang, w in LANG_WEIGHTS for _ in range(w)]
    out = []
    for i in range(n):
        lang = rng.choice(langs)
        out.append((i, _text(rng, lang, lo, hi), lang, SOURCES[i % 5]))
    return out


@dataclass
class Fixture:
    root: str
    files: list
    records: int
    checksum: str = ""
    truth: dict = field(default_factory=dict)

    def seal(self) -> None:
        self.checksum = _digest(self.root)

    def verify(self) -> None:
        now = _digest(self.root)
        if now != self.checksum:
            raise RuntimeError(
                f"fixture {self.root} changed since generation "
                f"({self.checksum[:12]} -> {now[:12]}); refusing to time it"
            )


def _digest(root: str) -> str:
    h = hashlib.sha256()
    for dirpath, dirnames, names in os.walk(root):
        dirnames.sort()
        for name in sorted(names):
            path = os.path.join(dirpath, name)
            h.update(os.path.relpath(path, root).encode())
            with open(path, "rb") as fh:
                for chunk in iter(lambda: fh.read(1 << 20), b""):
                    h.update(chunk)
    return h.hexdigest()


def _fresh(path: str) -> str:
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    return path


def _write_iso2709(pairs: list) -> None:
    """Serialize each ``(json_lines_path, mrc_path)`` pair; runs in a
    harness subprocess (``python3 -m perfbench.fixtures SRC DST ...``)."""
    from traject_spark.marc.serialize import struct_json_to_record, to_iso2709

    for src, dst in pairs:
        with open(src, encoding="utf-8") as fin, open(dst, "wb") as fout:
            for line in fin:
                rec = struct_json_to_record(line)
                fout.write(to_iso2709(rec, encoding="MARC-8"))


def marc8_iso2709(spark, root: str, seed: int, n: int, cpus: int) -> Fixture:
    """``marc_from_documents`` records serialized by
    ``to_iso2709(encoding="MARC-8")`` into ``FILES_PER_CPU * cpus`` files.

    The records are built by one JVM-only Spark job and serialized by
    ``cpus`` harness subprocesses, so Spark's own Python workers are not
    started (and warmed) by the generator."""
    import pandas as pd
    from pyspark.sql import functions as F

    from traject_spark.synth import marc_from_documents

    out = _fresh(root)
    stage = _fresh(root + "_json")
    arrow = "spark.sql.execution.arrow.pyspark.enabled"
    spark.conf.set(arrow, "true")
    try:
        docs = spark.createDataFrame(pd.DataFrame(
            documents(seed, n), columns=["doc_id", "text", "lang", "source"]
        )).withColumn("n_chars", F.length("text").cast("long"))
        marc = marc_from_documents(docs).select(
            F.col("record_id").cast("long").alias("id"),
            F.to_json("marc").alias("j"),
        ).toPandas().sort_values("id")
    finally:
        spark.conf.unset(arrow)
    records = marc["j"].tolist()
    n_files = FILES_PER_CPU * cpus
    per = -(-n // n_files)
    args: list = [[] for _ in range(cpus)]
    files = []
    for k in range(n_files):
        src = os.path.join(stage, f"part-{k:05d}.json")
        with open(src, "w", encoding="utf-8") as fh:
            fh.writelines(r + "\n" for r in records[k * per:(k + 1) * per])
        files.append(os.path.join(out, f"part-{k:05d}.mrc"))
        args[k % cpus] += [src, files[-1]]
    procs = [
        subprocess.Popen([sys.executable, "-m", "perfbench.fixtures", *a])
        for a in args
    ]
    codes = [p.wait() for p in procs]
    shutil.rmtree(stage)
    if any(codes):
        raise RuntimeError(f"MARC-8 serializer subprocesses exited {codes}")
    fx = Fixture(out, files, n)
    fx.seal()
    return fx


def curate_docs(root: str, seed: int, n_base: int, cpus: int) -> Fixture:
    """Documents with planted exact duplicates and near-duplicate cliques,
    written as NDJSON; ``truth`` maps every surviving ``doc_id`` to its
    expected ``cluster_id``.

    Design (after ``tools/scale_testdata.py``): a tenth of the base
    documents get one or two verbatim copies; another tenth, all at least
    40 tokens long, get two near-duplicates, one with a salt token
    prepended and one with the salt prepended and a second salt token
    appended (3-shingle Jaccard >= 0.95 to each other, far above the
    recipe's 0.8 threshold), so LSH recovers every clique with
    overwhelming probability. All other documents are independent draws.
    Ids are a seeded permutation, so the survivor of a group is not
    always the original."""
    rng = random.Random(seed)
    base = documents(seed, n_base)
    texts = []  # (text, lang, source, exact_group, clique)
    for i, (_, text, lang, source) in enumerate(base):
        texts.append((text, lang, source, i, i))
    long_ids = [i for i, d in enumerate(base) if len(d[1].split()) >= 40]
    exact_src = rng.sample(range(n_base), n_base // 10)
    taken = set(exact_src)
    near_src = [
        i for i in rng.sample(long_ids, min(len(long_ids), n_base // 10))
        if i not in taken
    ]
    for i in exact_src:
        text, lang, source = base[i][1:]
        for _ in range(rng.randint(1, 2)):
            texts.append((text, lang, source, i, i))
    for i in near_src:
        text, lang, source = base[i][1:]
        salt = f"salt{rng.randrange(10**9)}"
        texts.append((f"{salt} {text}", lang, source, -1 - 2 * i, i))
        texts.append((f"{salt} {text} tail{i}", lang, source, -2 - 2 * i, i))

    ids = list(range(len(texts)))
    rng.shuffle(ids)
    rows = [(ids[k],) + t for k, t in enumerate(texts)]

    survivor: dict = {}
    for doc_id, _text, _lang, _src, group, _clique in rows:
        survivor[group] = min(survivor.get(group, doc_id), doc_id)
    cluster: dict = {}
    for doc_id, _text, _lang, _src, group, clique in rows:
        if survivor[group] == doc_id:
            cluster[clique] = min(cluster.get(clique, doc_id), doc_id)
    truth = {
        doc_id: cluster[clique]
        for doc_id, _t, _l, _s, group, clique in rows
        if survivor[group] == doc_id
    }

    out = _fresh(root)
    n_files = FILES_PER_CPU * cpus
    rows.sort()
    per = -(-len(rows) // n_files)
    files = []
    for k in range(n_files):
        path = os.path.join(out, f"part-{k:05d}.json")
        with open(path, "w", encoding="utf-8") as fh:
            for doc_id, text, lang, source, _g, _c in rows[k * per:(k + 1) * per]:
                fh.write(json.dumps(
                    {"doc_id": doc_id, "text": text, "lang": lang,
                     "source": source},
                    ensure_ascii=False,
                ) + "\n")
        files.append(path)
    fx = Fixture(out, files, len(rows), truth=truth)
    fx.seal()
    return fx


if __name__ == "__main__":
    _write_iso2709(list(zip(sys.argv[1::2], sys.argv[2::2])))
