"""Pin for tools/stage_census.py's stage-time measure: the union of the
stages' active intervals, so concurrent stages are counted once."""
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tools"))


def test_union_length_counts_overlap_once():
    from stage_census import union_length

    assert union_length([]) == 0.0
    assert union_length([(0.0, 1.0), (2.0, 4.0)]) == 3.0  # disjoint: sum
    assert union_length([(0.0, 2.0), (1.0, 3.0)]) == 3.0  # overlapping
    assert union_length([(0.0, 5.0), (1.0, 2.0)]) == 5.0  # nested
    assert union_length([(0.0, 1.0), (1.0, 2.0)]) == 2.0  # touching
    assert union_length([(4.0, 6.0), (0.0, 1.0), (0.5, 2.0)]) == 4.0  # unsorted
