"""DataFrame operators, one module per pipeline stage."""
