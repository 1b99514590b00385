"""Workload definitions: sizes and phase shape. Reasons in NOTES.md."""

from gen import Sizes

WORKLOADS = {
    # read-mostly serving: 2 closed-loop clients over whole cycles of
    # the full mix, then a few stored-attribute (docvalues) commits
    "serve": {
        "sizes": Sizes(
            n_docs=800, docs_per_shard=400, tail_per_doc=4, tail_new_p=0.5,
        ),
        "clients": 2,
        # one whole 20-query cycle per 5 s of --seconds
        "seconds_per_cycle": 5,
        "attr_commits": 5,
    },
    # writes beside reads: a seeded commit script over small shards
    # (about 20 dictionary rows per doc, 4.8k in all); after each
    # commit the readers reopen and run the selective mix against the
    # new snapshot (7 reads x 4 commits = 2 whole selective cycles)
    "mutate": {
        "sizes": Sizes(
            n_docs=240, docs_per_shard=80, tail_per_doc=8, tail_new_p=0.8,
        ),
        "append_docs": 80,
        "clients": 2,
        "reads_per_snapshot": 7,
    },
}
