"""Helpers of the graft benchmark: statistics, input tables, oracle compare."""
