"""The tie rules the merge and linking aggregates carry (one min_by each),
pinned on hand-built frames:

  * batch M3 vote: equal counts → the first-seen type wins, first-seen
    being the (file_path, chunk_order_index, record_idx) occurrence order
    (Counter + stable sort, operate.py:296-301);
  * incremental re-vote: the existing type counts once and is appended
    AFTER the new types, so it loses a tie (operate.py:296-301);
  * alias canonical: highest mention_count, equal counts → the
    lexicographically smallest name.
"""

from aperag_spark.operators.incremental import merge_entities_incremental
from aperag_spark.operators.linking import build_alias_map
from aperag_spark.operators.merge import merge_entities

RAW_SCHEMA = (
    "entity_name string, entity_type string, description string, "
    "source_id string, file_path string, chunk_order_index int, record_idx int"
)


def _types(df):
    return {r["entity_id"]: r["entity_type"] for r in df.collect()}


def test_batch_vote_tie_goes_to_first_seen(spark):
    # each tied winner sorts last by name and comes last in row order, so
    # neither a lexicographic nor an arrival-order pick can pass
    raw = spark.createDataFrame(
        [
            ("X", "alpha", "d1", "c1", "https://b", 0, 0),
            ("X", "zeta", "d2", "c2", "https://a", 3, 3),
            # same page: the chunk decides before the record index
            ("Y", "alpha", "d3", "c3", "https://a", 1, 0),
            ("Y", "zeta", "d4", "c4", "https://a", 0, 5),
            # no tie: the count decides over first-seen
            ("Z", "zeta", "d5", "c5", "https://a", 0, 0),
            ("Z", "alpha", "d6", "c6", "https://b", 0, 0),
            ("Z", "alpha", "d7", "c7", "https://c", 0, 0),
        ],
        RAW_SCHEMA,
    ).repartition(3)
    assert _types(merge_entities(raw)) == {"X": "zeta", "Y": "zeta", "Z": "alpha"}


def test_incremental_vote_tie_goes_to_the_new_type(spark):
    raw = spark.createDataFrame(
        [
            ("X", "zeta", "d1", "c1", "https://a", 0, 0),
            ("Y", "zeta", "d2", "c2", "https://a", 0, 1),
            ("Y", "alpha", "d3", "c3", "https://b", 0, 0),
        ],
        RAW_SCHEMA,
    )
    existing = spark.createDataFrame(
        [
            ("X", "alpha", "old", ["c0"], ["https://z"], 4),
            # the existing vote joins its own type's count: alpha 2, zeta 1
            ("Y", "alpha", "old", ["c0"], ["https://z"], 4),
            ("W", "alpha", "old", ["c0"], ["https://z"], 1),
        ],
        "entity_id string, entity_type string, description string, "
        "source_ids array<string>, file_paths array<string>, mention_count long",
    )
    merged = merge_entities_incremental(raw, existing)
    assert _types(merged) == {"X": "zeta", "Y": "alpha", "W": "alpha"}


def test_alias_canonical_tie_goes_to_the_smallest_name(spark):
    entities = spark.createDataFrame(
        [
            ("Acme Corp", 5),
            ("ACME Corp.", 5),  # equal count, smaller name ('C' < 'c')
            ("Zenith Limited", 2),  # smaller name, lower count
            ("Zenith Ltd", 9),
        ],
        "entity_id string, mention_count long",
    )
    alias = {r["entity_id"]: r["canonical_id"] for r in build_alias_map(entities).collect()}
    assert alias == {"Acme Corp": "ACME Corp.", "Zenith Limited": "Zenith Ltd"}
