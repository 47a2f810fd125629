"""Measure the traffic shape that Gen.scala's constants come from.

    python3 perfbench/derive.py <path to the sf0.1 events.parquet>

The program's own CloudFront lines (CloudFrontPack.synthLines) are made
from the `events` table: x-edge-location is EDGE-(user_id % 8), c-country
is C(user_id % 20), sc-status follows event_type, sc-bytes is
floor(value * 100) + 200 and time-taken is value / 64. This script prints
what that mapping gives on an `events` table, in DuckDB, so the figures
behind the generator can be measured again. The benchmark itself does not
run it: a checkout holds no test tables.
"""
import sys

import duckdb


def main():
    if len(sys.argv) != 2:
        raise SystemExit(__doc__)
    c = duckdb.connect()
    c.execute(f"CREATE VIEW e AS SELECT * FROM read_parquet('{sys.argv[1]}')")

    def show(title, sql):
        print(f"{title}: {c.sql(sql).fetchall()}")

    show("rows, users, first ts, last ts",
         "SELECT count(*), count(DISTINCT user_id), min(ts), max(ts) FROM e")
    show("seconds between lines (mean)",
         "SELECT (epoch(max(ts)) - epoch(min(ts))) / (count(*) - 1) FROM e")
    show("lines out of time order, in event_id order",
         "SELECT count(*) FILTER (WHERE ts < prev) FROM "
         "(SELECT ts, lag(ts) OVER (ORDER BY event_id) prev FROM e)")
    show("edge share (min, max) over user_id % 8",
         "SELECT min(s), max(s) FROM (SELECT count(*) / sum(count(*)) OVER () s "
         "FROM e GROUP BY user_id % 8)")
    show("country share (min, max) over user_id % 20",
         "SELECT min(s), max(s) FROM (SELECT count(*) / sum(count(*)) OVER () s "
         "FROM e GROUP BY user_id % 20)")
    show("event_type shares",
         "SELECT event_type, round(count(*) / sum(count(*)) OVER (), 4) "
         "FROM e GROUP BY 1 ORDER BY 1")
    show("value: mean, and quartiles, p90, p99",
         "SELECT avg(value), quantile_cont(value, [0.25, 0.5, 0.75, 0.9, 0.99]) "
         "FROM e")
    show("exponential with that mean: quartiles, p90, p99",
         "SELECT list_transform([0.25, 0.5, 0.75, 0.9, 0.99], "
         "p -> -m * ln(1 - p)) FROM (SELECT avg(value) m FROM e)")
    show("value decimals (max of value * 100 - floor(value * 100))",
         "SELECT max(abs(value * 100 - round(value * 100))) FROM e")


if __name__ == "__main__":
    main()
