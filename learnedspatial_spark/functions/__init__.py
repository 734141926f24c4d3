"""Scalar/vector function library: geo math and text analysis."""
