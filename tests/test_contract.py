"""The driver contract in __spark_entry__.py: every `queries()` gate has
an `oracle_sql()` twin and nothing else does."""

import __spark_entry__ as entry


def test_queries_and_oracles_share_keys():
    qs = entry.queries()
    oracles = entry.oracle_sql()
    assert len(qs) == len(oracles) == 169
    assert set(qs) == set(oracles)
    assert all(callable(fn) for fn in qs.values())
    assert all(isinstance(sql, str) and sql.strip() for sql in oracles.values())
