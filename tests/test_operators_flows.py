"""OD tile flows (operators/flows.py)."""

from datetime import datetime

from geohash_dotnet_spark.operators import tile_flows


def _ev(uid, second, lat, lon, eid):
    return (uid, datetime(2024, 1, 1, 0, 0, second), lat, lon, eid)


SCHEMA = "user_id long, ts timestamp, lat double, lon double, event_id long"

# p1-cell anchor points (distinct geohash p1 cells)
BERLIN = (52.5, 13.4)     # u
NYC = (40.7, -74.0)       # d
TOKYO = (35.7, 139.7)     # x


def test_known_transitions(spark):
    rows = [
        _ev(1, 0, *BERLIN, 10), _ev(1, 1, *NYC, 11),   # u -> d
        _ev(1, 2, *NYC, 12),                            # d -> d (self)
        _ev(1, 3, *TOKYO, 13),                          # d -> x
        _ev(2, 0, *BERLIN, 20), _ev(2, 1, *NYC, 21),   # u -> d again
    ]
    out = {(r["from_tile"], r["to_tile"]): (r["n_moves"], r["n_users"])
           for r in tile_flows(spark.createDataFrame(rows, SCHEMA),
                               precision=1,
                               tiebreak="event_id").collect()}
    assert out == {("u", "d"): (2, 2), ("d", "x"): (1, 1)}


def test_tiebreak_orders_equal_timestamps(spark):
    """Same-ts events must order by the tiebreak, not arrival order."""
    rows = [
        _ev(1, 0, *NYC, 2),      # second by event_id
        _ev(1, 0, *BERLIN, 1),   # first by event_id
        _ev(1, 1, *TOKYO, 3),
    ]
    out = {(r["from_tile"], r["to_tile"])
           for r in tile_flows(spark.createDataFrame(rows, SCHEMA),
                               precision=1,
                               tiebreak="event_id").collect()}
    assert out == {("u", "d"), ("d", "x")}


def test_layout_independent(spark):
    rows = ([_ev(u, s, *(BERLIN if (u + s) % 2 else NYC), u * 100 + s)
             for u in range(5) for s in range(6)])
    df = spark.createDataFrame(rows, SCHEMA)
    a = sorted(map(tuple, tile_flows(df, precision=1,
                                     tiebreak="event_id").collect()))
    b = sorted(map(tuple, tile_flows(df.repartition(7), precision=1,
                                     tiebreak="event_id").collect()))
    assert a == b and a


def test_user_mobility_known_values(spark):
    """Hand-check: centroid and rog of two symmetric points."""
    from geohash_dotnet_spark.operators import user_mobility

    df = spark.createDataFrame(
        [(1, 10.0, 20.0), (1, 12.0, 22.0),   # centroid (11, 21), rog = sqrt(2)
         (2, 5.0, 5.0)],                     # single point: rog 0
        "user_id long, lat double, lon double")
    out = {r["user_id"]: r for r in user_mobility(df).collect()}
    assert out[1]["c_lat"] == 11.0 and out[1]["c_lon"] == 21.0
    assert abs(out[1]["rog_deg"] - 2.0 ** 0.5) < 1e-9
    assert out[2]["rog_deg"] == 0.0 and out[2]["n_events"] == 1


def test_user_mobility_layout_independent(spark):
    from geohash_dotnet_spark.operators import user_mobility

    rows = [(u, 10.0 + 0.01 * s, -40.0 + 0.02 * s)
            for u in range(10) for s in range(20)]
    df = spark.createDataFrame(rows, "user_id long, lat double, lon double")
    a = sorted(map(tuple, user_mobility(df).collect()))
    b = sorted(map(tuple, user_mobility(df.repartition(7)).collect()))
    assert a == b


# ---------------------------------------------------------------------------
# stay_points
# ---------------------------------------------------------------------------

def test_stay_points_known_runs(spark):
    from geohash_dotnet_spark.operators import stay_points

    rows = [
        _ev(1, 0, *BERLIN, 10), _ev(1, 10, *BERLIN, 11),   # berlin run x2
        _ev(1, 20, *NYC, 12),                               # lone nyc point
        _ev(1, 30, *BERLIN, 13), _ev(1, 40, *BERLIN, 14),  # NEW berlin run
        _ev(2, 0, *TOKYO, 20), _ev(2, 5, *TOKYO, 21), _ev(2, 9, *TOKYO, 22),
    ]
    out = stay_points(spark.createDataFrame(rows, SCHEMA), precision=1,
                      min_dwell_s=0, min_points=2,
                      tiebreak="event_id").collect()
    runs = sorted((r["user_id"], r["cell"], r["n_points"], r["dwell_us"])
                  for r in out)
    # the singleton nyc visit is filtered; the two berlin runs stay SEPARATE
    assert runs == [(1, "u", 2, 10_000_000), (1, "u", 2, 10_000_000),
                    (2, "x", 3, 9_000_000)]


def test_stay_points_dwell_floor(spark):
    from geohash_dotnet_spark.operators import stay_points

    rows = [_ev(1, 0, *BERLIN, 1), _ev(1, 30, *BERLIN, 2),    # 30 s dwell
            _ev(2, 0, *NYC, 3), _ev(2, 45, *NYC, 4)]          # 45 s dwell
    out = stay_points(spark.createDataFrame(rows, SCHEMA), precision=1,
                      min_dwell_s=40, min_points=2,
                      tiebreak="event_id").collect()
    assert [(r["user_id"], r["n_points"]) for r in out] == [(2, 2)]


def test_stay_points_layout_invariant(spark):
    """Same stays whatever the input partitioning (the user-keyed
    exchange renders layout irrelevant)."""
    from geohash_dotnet_spark.operators import stay_points

    rows = [_ev(u, s, *BERLIN, u * 100 + s)
            for u in (1, 2, 3) for s in (0, 10, 20)]
    df = spark.createDataFrame(rows, SCHEMA)
    a = sorted(map(tuple, stay_points(df.coalesce(1), precision=1,
                                      tiebreak="event_id").collect()))
    b = sorted(map(tuple, stay_points(df.repartition(7), precision=1,
                                      tiebreak="event_id").collect()))
    assert a == b and len(a) == 3


# ---------------------------------------------------------------------------
# trip_stats
# ---------------------------------------------------------------------------

def test_trip_stats_gap_split_and_length(spark):
    from geohash_dotnet_spark.operators import trip_stats

    # user 1: two points 1 s apart (one trip), then a point 2 h later
    # (gap > 3600 s opens trip 2 — but it's a singleton, filtered)
    rows = [_ev(1, 0, *BERLIN, 1), _ev(1, 1, *NYC, 2)]
    rows.append((1, datetime(2024, 1, 1, 2, 0, 1), *TOKYO, 3))
    out = trip_stats(spark.createDataFrame(rows, SCHEMA), gap_s=3600,
                     min_points=2, tiebreak="event_id").collect()
    assert len(out) == 1
    t = out[0]
    assert (t["user_id"], t["n_points"], t["duration_us"]) == (1, 2, 1_000_000)
    # berlin->nyc great-circle is ~6,387 km; legs sum in whole metres
    assert abs(t["dist_m"] - 6_387_000) < 10_000
    assert t["dist_m"] == int(t["dist_m"])


def test_trip_stats_layout_invariant_path_sum(spark):
    """Integer-metre leg quantization makes path sums bit-identical across
    layouts (double sums would be addition-order dependent)."""
    from geohash_dotnet_spark.operators import trip_stats

    rows = [_ev(1, s, 50.0 + 0.01 * s, 10.0 + 0.013 * s, s)
            for s in range(0, 50)]
    df = spark.createDataFrame(rows, SCHEMA)
    a = trip_stats(df.coalesce(1), gap_s=3600,
                   tiebreak="event_id").collect()[0]["dist_m"]
    b = trip_stats(df.repartition(11), gap_s=3600,
                   tiebreak="event_id").collect()[0]["dist_m"]
    assert a == b


def test_stay_trip_single_exchange_plan(spark):
    """The docstring shape claim, pinned: ONE user-keyed exchange and ONE
    sort feed both window passes (lag + running sum share the window
    spec), and the (user, run/trip) aggregation rides the same
    partitioning (user is a subset of the grouping keys) — no second
    shuffle anywhere."""
    from geohash_dotnet_spark.operators import stay_points, trip_stats

    df = spark.createDataFrame(
        [_ev(1, s, *BERLIN, s) for s in range(5)], SCHEMA)
    for op in (lambda: stay_points(df, tiebreak="event_id"),
               lambda: trip_stats(df, tiebreak="event_id")):
        plan = op()._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange hashpartitioning") == 1
        assert plan.count("Sort ") == 1


def test_visit_recurrence_known_histogram(spark):
    """Hand-built diary: user 1 visits cell A on 3 distinct days and
    cell B once; user 2 visits A on 2 days (one day twice — still one
    distinct day)."""
    from geohash_dotnet_spark.operators.flows import visit_recurrence

    A = (40.0, -100.0)
    B = (-30.0, 20.0)
    rows = [
        (1, datetime(2024, 1, 1, 8), *A), (1, datetime(2024, 1, 2, 9), *A),
        (1, datetime(2024, 1, 5, 7), *A), (1, datetime(2024, 1, 1, 12), *B),
        (2, datetime(2024, 1, 1, 8), *A), (2, datetime(2024, 1, 3, 8), *A),
        (2, datetime(2024, 1, 3, 21), *A),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, lat double, lon double")
    out = {r["n_days"]: (r["n_user_cells"], r["n_users"])
           for r in visit_recurrence(df).collect()}
    assert out == {1: (1, 1),   # user1 x B
                   2: (1, 1),   # user2 x A (day 3 collapses)
                   3: (1, 1)}   # user1 x A


def test_visit_recurrence_accounting(spark, sf_small):
    """sum(n_user_cells) == #distinct (user, cell) pairs."""
    import __spark_entry__ as E
    from geohash_dotnet_spark.functions.native import with_geohash
    from geohash_dotnet_spark.operators.flows import visit_recurrence

    ev = E._sticky_events(spark, sf_small)
    out = visit_recurrence(ev).collect()
    n_pairs = (with_geohash(ev, "lat", "lon", 3, out="c")
               .select("user_id", "c").distinct().count())
    assert sum(r["n_user_cells"] for r in out) == n_pairs
    assert all(r["n_users"] <= r["n_user_cells"] for r in out)


def test_bearing_rose_known_compass(spark):
    """Hand-built moves off exact sector edges: NNE (sector 0), ENE
    (1), ESE (2... careful: sectors are 45-degree wedges from north,
    clockwise: 0=[0,45), 1=[45,90), 2=[90,135), ...)."""
    from geohash_dotnet_spark.operators.flows import bearing_rose

    def mv(uid, t, la, lo):
        return (uid, datetime(2024, 1, 1, 0, t), la, lo)

    rows = [
        # user 1: due-north move -> bearing 0 -> sector 0
        mv(1, 0, 0.0, 0.0), mv(1, 1, 1.0, 0.0),
        # user 2: northeast-ish (dlat 1, dlon 0.5) -> ~26.6 deg -> 0
        mv(2, 0, 0.0, 0.0), mv(2, 1, 1.0, 0.5),
        # user 3: east-ish but south of 90 is avoided: (dlat 0.5, dlon 1)
        # -> ~63.4 deg -> sector 1
        mv(3, 0, 0.0, 0.0), mv(3, 1, 0.5, 1.0),
        # user 4: south-ish (dlat -1, dlon 0.5) -> ~153 deg -> sector 3
        mv(4, 0, 0.0, 0.0), mv(4, 1, -1.0, 0.5),
        # user 5: west-ish (dlat 0.5, dlon -1) -> ~-63 deg = 297 -> 6
        mv(5, 0, 0.0, 0.0), mv(5, 1, 0.5, -1.0),
        # user 6: stationary pair -> dropped
        mv(6, 0, 10.0, 10.0), mv(6, 1, 10.0, 10.0),
    ]
    df = spark.createDataFrame(
        rows, "user_id long, ts timestamp, lat double, lon double")
    out = {r["sector"]: (r["n_moves"], r["n_users"])
           for r in bearing_rose(df).collect()}
    assert out == {0: (2, 2), 1: (1, 1), 3: (1, 1), 6: (1, 1)}


def test_bearing_rose_accounting(spark, sf_small):
    """Moves partition into sectors: sum(n_moves) == #non-stationary
    consecutive pairs; sectors in 0..7."""
    import __spark_entry__ as E
    from geohash_dotnet_spark.operators.flows import bearing_rose

    spark.conf.set("spark.sql.session.timeZone", "UTC")
    ev = E._sticky_events(spark, sf_small)
    out = bearing_rose(ev, tiebreak="event_id").collect()
    n_events = ev.count()
    n_users = ev.select("user_id").distinct().count()
    assert sum(r["n_moves"] for r in out) == n_events - n_users
    assert all(0 <= r["sector"] <= 7 for r in out)
