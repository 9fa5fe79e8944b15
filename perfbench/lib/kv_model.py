"""Last-writer-wins models of the key-value stores and the catalogue.

`Lww` replays acknowledged writes in the order each writer saw them
acknowledged; a durable change-log (rows of id, key, value, write_ts,
event_id, deleted) folds to the same map when the newest (write_ts,
event_id) per (id, key) wins.
"""


class Lww:
    def __init__(self):
        self.cells = {}

    def put(self, ident, key, value):
        self.cells[(ident, key)] = value

    def get(self, ident, key, missing):
        return self.cells.get((ident, key), missing)

    def keys(self, ident):
        return sorted(k for (i, k) in self.cells if i == ident)

    def count(self, ident):
        return sum(1 for (i, _) in self.cells if i == ident)

    def items(self):
        return dict(self.cells)


def fold_log(rows):
    """{(id, key): value} of the live cells of a change-log."""
    best = {}
    for ident, key, value, write_ts, event_id, deleted in rows:
        k = (ident, key)
        if k not in best or (write_ts, event_id) >= best[k][0]:
            best[k] = ((write_ts, event_id), value, deleted)
    return {k: v for k, (_, v, dead) in best.items() if not dead}
