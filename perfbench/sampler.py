"""Stratified sample of the registered queries, in seeded order.

Every sample holds q58_triangles, the performance roadmap's target with
the most jobs per query. The other roadmap targets
(txt_doc_kn3_perplexity, txt_doc_kn_perplexity, pipe_quality_funnel,
txt_bpe_encode, q187_harmonic, the recall audits and the probe-curve
sweeps) each cost more than a run's time budget leaves.

On top of it comes one query from each name family: the one in the
middle of the family sorted by recorded warm time. The seed sets the
order of the sample but not its members: samples of different members,
even at equal recorded cost, spread the pass time across seeds wider than
the benchmark's bound allows."""
import random

FAMILIES = ("q", "txt", "sim", "dd", "pipe", "mm", "odns")

TARGETS = ("q58_triangles",)


def family(name):
    head = name.split("_", 1)[0]
    return "q" if head.startswith("q") else head


def sample(catalog, seed):
    picked = [t for t in TARGETS if t in catalog]
    for fam in FAMILIES:
        pool = sorted((n for n in catalog if family(n) == fam and n not in TARGETS),
                      key=lambda n: (catalog[n]["seconds"], n))
        if pool:
            picked.append(pool[len(pool) // 2])
    random.Random(seed).shuffle(picked)
    return picked
