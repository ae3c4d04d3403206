"""Benchmark of the live vote tally and of dashboard queries."""
